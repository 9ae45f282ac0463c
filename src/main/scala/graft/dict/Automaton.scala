package graft.dict

import scala.collection.mutable

/** Aho-Corasick dictionary automaton — the Spark-native replacement for the
  * reference's external mgrep radix-tree server (SURVEY.md §3.1 D8, §3.2 A2).
  *
  * Semantics (mgrep-compatible contract, gated by the naive-matcher oracle and
  * the DuckDB regex oracle):
  *   - case-insensitive: input chars are uppercased on the fly
  *     ([[Automaton.normChar]]); dictionary terms are stored pre-normalized
  *     (see [[graft.dict.DictBuild.normalizeTerm]]). ASCII-safe contract —
  *     documented limitation: locale multi-char uppercasings (ß→SS) are not
  *     length-preserving and are out of contract.
  *   - word boundaries at BOTH ends (when `wholeWord=true`, the mgrep
  *     default): a hit `[start, end]` is emitted only if the neighbouring
  *     characters are non-word. Word char class is `[A-Za-z0-9_]` —
  *     RE2/`\b` parity so the DuckDB oracle can re-derive matches with
  *     `regexp_matches(upper(text), '\bTERM\b')`. With `wholeWord=false`
  *     (reference `whole_word_only` off) every occurrence is emitted.
  *   - all occurrences are emitted (reference default); `longestOnly` keeps,
  *     per start offset, only the longest hit (SURVEY.md §3.2 A5 contract:
  *     per (url, from) keep max `to`).
  *   - offsets emitted 1-based inclusive in original text coordinates.
  *
  * Layout: int-indexed nodes, CSR child arrays + binary search, dense root
  * dispatch table for ASCII. Java-serializable (primitive arrays) so the whole
  * automaton broadcasts to executors; per-partition scan state is just an int.
  */
final class Automaton private[dict] (
    val childStart: Array[Int], // CSR row pointers, length n+1
    val childChar: Array[Char], // sorted per node
    val childTo: Array[Int],
    val rootNext: Array[Int], // dense ASCII dispatch for node 0, length 128
    val fail: Array[Int],
    val out: Array[Int], // nearest accepting PROPER-suffix node via fail chain, -1 = none
    val termIdAt: Array[Int], // accepting termId per node, -1 = none
    val depth: Array[Int], // node depth == matched-term length at that node
    val emitNode: Array[Int], // head of the emission chain per node: the node
    // itself if accepting, else out(node) — folds the hot path's two loads
    // (termIdAt + out) into one; continue the chain via out(n)
    val denseNext: Array[Int], // fail-resolved DFA rows δ(s, c) for the first
    // denseStates nodes × 128 ASCII chars: one load per input byte, NO fail
    // loop, no CSR search. Nodes are BFS-numbered (shallow = hot = small id),
    // so the first rows cover virtually all transitions taken on real text.
    // 0 = back to root (root is never a child target, so 0 is unambiguous).
    val denseStates: Int
) extends Serializable {

  def numNodes: Int = fail.length

  /** Ring-buffer capacity for the UTF-8 scan's char→byte offset map: the
    * next power of two above maxDepth+2, so any live match's start char is
    * still resident. Recomputed after deserialization (one pass). */
  @transient lazy val ringSize: Int = {
    var m = 0
    var i = 0
    while (i < depth.length) { if (depth(i) > m) m = depth(i); i += 1 }
    Integer.highestOneBit(math.max(4, m + 2)) * 2
  }

  @inline private def child(s: Int, c: Char): Int = {
    if (s == 0 && c < 128) return rootNext(c)
    var lo = childStart(s)
    var hi = childStart(s + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mc = childChar(mid)
      if (mc == c) return childTo(mid)
      else if (mc < c) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  private[dict] def childViaCsr(s: Int, c: Char): Int = child(s, c)

  /** The automaton's one scan loop: all dictionary hits in UTF-8 text read
    * in place (no copy, no String materialization, for ANY input) into a
    * REUSABLE primitive-array buffer — no per-hit allocation. A
    * `UTF8String` from the vectorized parquet reader is scanned directly via
    * its base object + offset ([[org.apache.spark.unsafe.Platform]] reads).
    * Real web text is heavily non-ASCII, so this scan decodes multi-byte
    * codepoints INLINE (feeding the automaton the same UTF-16 units
    * `String.charAt` would — supplementary codepoints become two surrogate
    * steps) while offsets stay exact UTF-16 char positions:
    *
    *   - `buf` receives 1-based inclusive CHAR offsets of the decoded
    *     String, the [[NaiveMatcher]]'s coordinates (property-tested on
    *     random mixed-script text);
    *   - boundary checks read raw bytes (any UTF-8 lead/continuation byte
    *     is negative → non-word, exactly matching the char class);
    *   - a small ring buffer maps the last `maxDepth+2` char positions to
    *     their byte offsets so the boundary-before byte of a match start is
    *     found without re-decoding.
    *
    * Returns `true` if the text was pure ASCII (then char==byte==codepoint
    * offsets — callers that slice matched text by byte can use them
    * directly; otherwise slice from a decoded String).
    * Contract: input is valid UTF-8 (parquet guarantees it); dictionary
    * terms containing unpaired surrogates are out of contract.
    */
  def scanUtf8Into(base: AnyRef, offset: Long, numBytes: Int,
                   buf: HitBuffer, longestOnly: Boolean = false,
                   wholeWord: Boolean = true): Boolean = {
    import org.apache.spark.unsafe.Platform
    buf.clear()
    // pure-ASCII primary loop: byte==char offsets, no ring bookkeeping, no
    // second counter — measurably (~1.5×) faster than the general loop, and
    // the overwhelming majority of transitions on any corpus are ASCII. On
    // the first non-ASCII byte, restart with the general loop (≤2× that
    // document's scan cost, still no String materialization).
    var state = 0
    var pos = 0
    var ascii = true
    while (pos < numBytes && ascii) {
      val b = Platform.getByte(base, offset + pos)
      if (b < 0) ascii = false
      else {
        val c = if (b >= 'a' && b <= 'z') b - 32 else b.toInt
        val nxt =
          if (state < denseStates) denseNext((state << 7) + c)
          else generalStep(state, c.toChar)
        pos += 1
        if (nxt == 0) {
          state = 0
          // WORD-RUN SKIP: landing at root after consuming a word byte
          // means no dictionary prefix is live, and every match starting in
          // the rest of this word run fails the boundary-before check — skip
          // the run. Negative (multi-byte) bytes are non-word, so the skip
          // stops at them
          if (wholeWord && Automaton.isWordByte(b)) {
            while (pos < numBytes &&
              Automaton.isWordByte(Platform.getByte(base, offset + pos))) pos += 1
          }
        } else {
          state = nxt
          emitAsciiBytes(nxt, base, offset, numBytes, pos - 1, buf, wholeWord)
        }
      }
    }
    if (ascii) {
      if (longestOnly) buf.longestPerStartInPlace()
      return true
    }
    buf.clear()
    scanUtf8General(base, offset, numBytes, buf, longestOnly, wholeWord)
    false
  }

  /** Emission for the pure-ASCII loop: byte offsets ARE char offsets. */
  @inline private def emitAsciiBytes(st: Int, base: AnyRef, offset: Long,
                                     numBytes: Int, pos: Int, buf: HitBuffer,
                                     wholeWord: Boolean): Unit = {
    import org.apache.spark.unsafe.Platform
    var n = emitNode(st)
    if (n >= 0) {
      val boundAfter = !wholeWord || pos == numBytes - 1 ||
        !Automaton.isWordByte(Platform.getByte(base, offset + pos + 1))
      if (boundAfter) {
        while (n >= 0) {
          val start = pos - depth(n) + 1
          if (!wholeWord || start == 0 ||
            !Automaton.isWordByte(Platform.getByte(base, offset + start - 1)))
            buf.add(start + 1, pos + 1, termIdAt(n)) // 1-based inclusive
          n = out(n)
        }
      }
    }
  }

  /** General UTF-8 loop (any script): inline codepoint decode, exact UTF-16
    * char offsets, ring-buffered char→byte map for boundary probes. */
  private def scanUtf8General(base: AnyRef, offset: Long, numBytes: Int,
                              buf: HitBuffer, longestOnly: Boolean,
                              wholeWord: Boolean): Unit = {
    import org.apache.spark.unsafe.Platform
    val ring = buf.ensureRing(ringSize)
    val mask = ringSize - 1
    var state = 0
    var bytePos = 0
    var charPos = 0 // 0-based UTF-16 char index
    while (bytePos < numBytes) {
      val b = Platform.getByte(base, offset + bytePos)
      if (b >= 0) {
        val c = if (b >= 'a' && b <= 'z') b - 32 else b.toInt
        val nxt =
          if (state < denseStates) denseNext((state << 7) + c)
          else generalStep(state, c.toChar)
        bytePos += 1
        if (nxt == 0) {
          state = 0
          if (wholeWord && Automaton.isWordByte(b)) {
            charPos += 1
            while (bytePos < numBytes &&
              Automaton.isWordByte(Platform.getByte(base, offset + bytePos))) {
              bytePos += 1; charPos += 1
            }
          } else charPos += 1
        } else {
          ring(charPos & mask) = bytePos - 1
          state = nxt
          emitBytes(nxt, base, offset, numBytes, bytePos - 1, charPos, ring, mask, buf, wholeWord)
          charPos += 1
        }
      } else {
        // multi-byte UTF-8: decode the codepoint, feed UTF-16 unit(s)
        val seqStart = bytePos
        var cp = 0
        var len = 0
        if ((b & 0xE0) == 0xC0) { cp = b & 0x1F; len = 2 }
        else if ((b & 0xF0) == 0xE0) { cp = b & 0x0F; len = 3 }
        else if ((b & 0xF8) == 0xF0) { cp = b & 0x07; len = 4 }
        else { cp = 0xFFFD; len = 1 } // malformed — mirror replacement char
        var k = 1
        var ok = true
        while (k < len && ok) {
          if (seqStart + k >= numBytes) ok = false
          else {
            val cb = Platform.getByte(base, offset + seqStart + k)
            if ((cb & 0xC0) != 0x80) ok = false
            else cp = (cp << 6) | (cb & 0x3F)
          }
          k += 1
        }
        if (!ok) { cp = 0xFFFD; len = 1 }
        bytePos = seqStart + len
        if (cp < 0x10000) {
          val c = Automaton.normChar(cp.toChar)
          ring(charPos & mask) = seqStart
          state = stepEmit(state, c, base, offset, numBytes, bytePos - 1, charPos, ring, mask, buf, wholeWord)
          charPos += 1
        } else {
          // supplementary plane → two surrogate chars, same byte span
          val hi = (0xD800 + ((cp - 0x10000) >> 10)).toChar
          val lo = (0xDC00 + ((cp - 0x10000) & 0x3FF)).toChar
          ring(charPos & mask) = seqStart
          state = stepEmit(state, hi, base, offset, numBytes, bytePos - 1, charPos, ring, mask, buf, wholeWord)
          charPos += 1
          ring(charPos & mask) = seqStart
          state = stepEmit(state, lo, base, offset, numBytes, bytePos - 1, charPos, ring, mask, buf, wholeWord)
          charPos += 1
        }
      }
    }
    if (longestOnly) buf.longestPerStartInPlace()
  }

  @inline private def generalStep(state: Int, c: Char): Int = {
    var s = state
    var t = child(s, c)
    while (t < 0 && s != 0) { s = fail(s); t = child(s, c) }
    if (t >= 0) t else 0
  }

  /** One fail-resolved transition + emission for a (rare) non-ASCII char. */
  @inline private def stepEmit(state: Int, c: Char, base: AnyRef, offset: Long,
                               numBytes: Int, lastByte: Int, charPos: Int,
                               ring: Array[Int], mask: Int, buf: HitBuffer,
                               wholeWord: Boolean): Int = {
    val nxt =
      if (state < denseStates && c < 128) denseNext((state << 7) + c)
      else generalStep(state, c)
    if (nxt != 0)
      emitBytes(nxt, base, offset, numBytes, lastByte, charPos, ring, mask, buf, wholeWord)
    nxt
  }

  /** Emit all terms ending at the char whose LAST byte is `lastByte`
    * (char index `charPos`) via the output chain. Offsets recorded in CHAR
    * coordinates; boundary checks probe raw bytes (negative = non-ASCII =
    * non-word, matching the char class). */
  @inline private def emitBytes(st: Int, base: AnyRef, offset: Long, numBytes: Int,
                                lastByte: Int, charPos: Int,
                                ring: Array[Int], mask: Int, buf: HitBuffer,
                                wholeWord: Boolean): Unit = {
    import org.apache.spark.unsafe.Platform
    var n = emitNode(st)
    if (n >= 0) {
      val boundAfter = !wholeWord || lastByte == numBytes - 1 ||
        !Automaton.isWordByte(Platform.getByte(base, offset + lastByte + 1))
      if (boundAfter) {
        while (n >= 0) {
          val startChar = charPos - depth(n) + 1
          val startByte = ring(startChar & mask)
          if (!wholeWord || startByte == 0 ||
            !Automaton.isWordByte(Platform.getByte(base, offset + startByte - 1)))
            buf.add(startChar + 1, charPos + 1, termIdAt(n)) // 1-based inclusive
          n = out(n)
        }
      }
    }
  }

  /** Boxed convenience wrapper over [[scanUtf8Into]] (term lookups, tests,
    * oracle comparisons). */
  def scan(text: String, longestOnly: Boolean = false): mutable.ArrayBuffer[graft.RawHit] = {
    val u8 = org.apache.spark.unsafe.types.UTF8String.fromString(text)
    val buf = new HitBuffer()
    scanUtf8Into(u8.getBaseObject, u8.getBaseOffset, u8.numBytes, buf, longestOnly)
    val out = new mutable.ArrayBuffer[graft.RawHit](buf.size)
    var i = 0
    while (i < buf.size) { out += graft.RawHit(buf.from(i), buf.to(i), buf.termId(i)); i += 1 }
    out
  }

  /** Memory estimate in bytes (broadcast sizing; SURVEY.md §5 "Spill/memory"). */
  def sizeEstimate: Long =
    4L * (childStart.length + childTo.length + rootNext.length +
      fail.length + out.length + termIdAt.length + depth.length +
      emitNode.length + denseNext.length) +
      2L * childChar.length
}

/** Reusable per-partition hit buffer: parallel primitive arrays, no per-hit
  * allocation. Hits are appended in increasing end-offset order (scan
  * order), which [[longestPerStartInPlace]] relies on NOT being required —
  * it is order-agnostic (two passes over a start→maxEnd map). */
final class HitBuffer(initialCapacity: Int = 256) {
  private var froms = new Array[Int](initialCapacity)
  private var tos = new Array[Int](initialCapacity)
  private var ids = new Array[Int](initialCapacity)
  private val startMax = new mutable.LongMap[Int]()
  private var ring: Array[Int] = null
  var size: Int = 0

  /** Char→byte offset ring for the UTF-8 scan (power-of-two `n`). */
  def ensureRing(n: Int): Array[Int] = {
    if (ring == null || ring.length < n) ring = new Array[Int](n)
    ring
  }

  def clear(): Unit = size = 0
  def from(i: Int): Int = froms(i)
  def to(i: Int): Int = tos(i)
  def termId(i: Int): Int = ids(i)

  def add(f: Int, t: Int, id: Int): Unit = {
    if (size == froms.length) {
      val n = size * 2
      froms = java.util.Arrays.copyOf(froms, n)
      tos = java.util.Arrays.copyOf(tos, n)
      ids = java.util.Arrays.copyOf(ids, n)
    }
    froms(size) = f; tos(size) = t; ids(size) = id
    size += 1
  }

  /** Append with an affine id remap (`id·mul + off`) — shard-LOCAL term ids
    * translate back to global (`local·k + shardIdx`) as they merge. */
  def appendFromMapped(o: HitBuffer, mul: Int, off: Int): Unit = {
    var i = 0
    while (i < o.size) { add(o.froms(i), o.tos(i), o.ids(i) * mul + off); i += 1 }
  }

  /** A5 longest_only contract in place: per start offset keep max end. */
  def longestPerStartInPlace(): Unit = {
    if (size <= 1) return
    startMax.clear()
    var i = 0
    while (i < size) {
      if (startMax.getOrElse(froms(i), -1) < tos(i)) startMax(froms(i)) = tos(i)
      i += 1
    }
    var w = 0
    i = 0
    while (i < size) {
      if (startMax(froms(i)) == tos(i)) {
        froms(w) = froms(i); tos(w) = tos(i); ids(w) = ids(i)
        w += 1
      }
      i += 1
    }
    size = w
  }
}

object Automaton {

  @inline def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Byte twin of [[isWordChar]] for the UTF-8 fast path: UTF-8 multi-byte
    * units are negative and correctly classify as non-word. */
  @inline def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  /** Per-char uppercase — keeps offsets in original coordinates (SURVEY.md
    * §3.2 A1: "normalize chars on the fly so offsets stay in ORIGINAL text
    * coordinates"). */
  @inline def normChar(c: Char): Char =
    if (c >= 'a' && c <= 'z') (c - 32).toChar else Character.toUpperCase(c)

  /** A5 longest_only contract: per start offset keep only the max end. */
  def longestPerStart(hits: mutable.ArrayBuffer[graft.RawHit]): mutable.ArrayBuffer[graft.RawHit] = {
    if (hits.length <= 1) return hits
    val maxEnd = new mutable.LongMap[Int]()
    hits.foreach { h => if (maxEnd.getOrElse(h.from, -1) < h.to) maxEnd(h.from) = h.to }
    hits.filter(h => maxEnd(h.from) == h.to)
  }

  /** How many BFS-leading states get a fail-resolved dense DFA row (×128
    * ASCII ints = 512 B/state). 4096 states = 2 MB of broadcast — shallow
    * states take virtually all transitions on real text, so the scan's hot
    * path is one load per byte regardless of dictionary size. */
  val DenseDfaStates = 4096

  /** Finalize a merged trie: BFS renumber (cache locality: hot shallow
    * states get small ids, and `fail(v) < v` always holds, which the dense
    * DFA build relies on), CSR freeze, fail/output links, fail-resolved
    * dense DFA rows for the leading states. Driver-side, once per dictionary
    * version (SURVEY.md §3.3 S3: shard tries are merged via treeReduce, then
    * finalized here and broadcast). */
  def fromTrie(t: TrieBuilder): Automaton = {
    val n = t.size
    // --- BFS renumber (children visited in char order → deterministic)
    val oldOf = new Array[Int](n) // new id -> trie id, in BFS visit order
    oldOf(0) = 0
    var cnt = 1
    var head = 0
    while (head < cnt) {
      val u = oldOf(head)
      val sorted = t.children(u).toArray.sortBy(_._1)
      var j = 0
      while (j < sorted.length) { oldOf(cnt) = sorted(j)._2; cnt += 1; j += 1 }
      head += 1
    }

    // --- CSR over new ids
    val newOf = new Array[Int](n)
    var i = 0
    while (i < n) { newOf(oldOf(i)) = i; i += 1 }
    val childStart = new Array[Int](n + 1)
    var totalChildren = 0
    i = 0
    while (i < n) { totalChildren += t.children(i).size; i += 1 }
    val childChar = new Array[Char](totalChildren)
    val childTo = new Array[Int](totalChildren)
    var w = 0
    i = 0
    while (i < n) {
      childStart(i) = w
      val sorted = t.children(oldOf(i)).toArray.sortBy(_._1)
      var j = 0
      while (j < sorted.length) {
        childChar(w) = sorted(j)._1.toChar
        childTo(w) = newOf(sorted(j)._2)
        w += 1; j += 1
      }
      i += 1
    }
    childStart(n) = w

    val rootNext = Array.fill(128)(-1)
    var k = childStart(0)
    while (k < childStart(1)) {
      if (childChar(k) < 128) rootNext(childChar(k)) = childTo(k)
      k += 1
    }

    val fail = new Array[Int](n)
    val out = Array.fill(n)(-1)
    val depth = new Array[Int](n)
    val termIdAt = new Array[Int](n)
    val emitNode = new Array[Int](n)
    i = 0
    while (i < n) { termIdAt(i) = t.termIds(oldOf(i)); i += 1 }

    val denseStates = math.min(n, DenseDfaStates)
    val denseNext = new Array[Int](denseStates * 128)
    val auto = new Automaton(childStart, childChar, childTo, rootNext, fail, out,
      termIdAt, depth, emitNode, denseNext, denseStates)

    // --- fail/out links: new ids ARE BFS order, so a single increasing-id
    // pass sees every parent before its children and fail(u) < u
    var u = 0
    while (u < n) {
      var e = childStart(u)
      while (e < childStart(u + 1)) {
        val c = childChar(e)
        val v = childTo(e)
        depth(v) = depth(u) + 1
        if (u == 0) fail(v) = 0
        else {
          // fail(v): deepest proper suffix state with a transition on c
          var f = fail(u)
          var fn = auto.childViaCsr(f, c)
          while (fn < 0 && f != 0) { f = fail(f); fn = auto.childViaCsr(f, c) }
          fail(v) = if (fn >= 0 && fn != v) fn else 0
        }
        out(v) = if (termIdAt(fail(v)) >= 0) fail(v) else out(fail(v))
        e += 1
      }
      u += 1
    }
    i = 0
    while (i < n) {
      emitNode(i) = if (termIdAt(i) >= 0) i else out(i)
      i += 1
    }

    // --- fail-resolved dense DFA rows: δ(s,c) = goto(s,c) | δ(fail(s),c);
    // fail(s) < s guarantees the referenced row is already final
    var s = 0
    while (s < denseStates) {
      var c = 0
      while (c < 128) {
        val g = if (s == 0) rootNext(c) else auto.childViaCsr(s, c.toChar)
        denseNext((s << 7) + c) =
          if (g >= 0) g
          else if (s == 0) 0
          else denseNext((fail(s) << 7) + c)
        c += 1
      }
      s += 1
    }
    auto
  }
}

/** Mutable, mergeable trie shard (SURVEY.md §3.3 S3): built per dictionary
  * partition on executors from `(term, termId)` pairs, merged pairwise via
  * `RDD.treeReduce` (the one sanctioned RDD use — SURVEY.md §5.4), finalized
  * on the driver by [[Automaton.fromTrie]]. Term ids are assigned globally
  * BEFORE sharding (DictBuild D6), so shard tries never conflict on ids.
  */
final class TrieBuilder extends Serializable {
  // node 0 = root; LongMap key = char code
  val children: mutable.ArrayBuffer[mutable.LongMap[Int]] =
    mutable.ArrayBuffer(mutable.LongMap.empty[Int])
  val termIds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer(-1)

  def size: Int = children.length

  private def childOrNew(node: Int, c: Long): Int = {
    val m = children(node)
    m.get(c) match {
      case Some(x) => x
      case None =>
        val nn = children.length
        children += mutable.LongMap.empty[Int]
        termIds += -1
        m.update(c, nn)
        nn
    }
  }

  def insert(term: String, termId: Int): TrieBuilder = {
    var node = 0
    var i = 0
    while (i < term.length) {
      node = childOrNew(node, term.charAt(i).toLong)
      i += 1
    }
    if (termIds(node) < 0 || termId < termIds(node)) termIds(node) = termId
    this
  }

  /** Structural graft of `other` into this; ties on accepting ids → min. */
  def merge(other: TrieBuilder): TrieBuilder = {
    val stack = mutable.ArrayDeque[(Int, Int)]((0, 0))
    while (stack.nonEmpty) {
      val (a, b) = stack.removeLast()
      val tb = other.termIds(b)
      if (tb >= 0 && (termIds(a) < 0 || tb < termIds(a))) termIds(a) = tb
      other.children(b).foreach { case (c, bChild) =>
        stack.append((childOrNew(a, c), bChild))
      }
    }
    this
  }
}

object TrieBuilder {
  def of(pairs: Iterator[(String, Int)]): TrieBuilder = {
    val t = new TrieBuilder
    pairs.foreach { case (term, id) => t.insert(term, id) }
    t
  }
}

/** O(terms × text) scalar reference matcher — the in-repo oracle for the
  * automaton's semantics (SURVEY.md §6.2). Shares the word-boundary and
  * normalization contract with [[Automaton]] by construction.
  */
final class NaiveMatcher(terms: Array[(String, Int)]) extends Serializable {
  def scan(text: String, longestOnly: Boolean = false,
           wholeWord: Boolean = true): mutable.ArrayBuffer[graft.RawHit] = {
    val up = new Array[Char](text.length)
    var i = 0
    while (i < text.length) { up(i) = Automaton.normChar(text.charAt(i)); i += 1 }
    val upper = new String(up)
    val hits = new mutable.ArrayBuffer[graft.RawHit]()
    terms.foreach { case (term, id) =>
      if (term.nonEmpty) {
        var from = upper.indexOf(term, 0)
        while (from >= 0) {
          val end = from + term.length - 1
          val bb = !wholeWord || from == 0 || !Automaton.isWordChar(text.charAt(from - 1))
          val ba = !wholeWord || end == text.length - 1 || !Automaton.isWordChar(text.charAt(end + 1))
          if (bb && ba) hits += graft.RawHit(from + 1, end + 1, id)
          from = upper.indexOf(term, from + 1)
        }
      }
    }
    val sorted = mutable.ArrayBuffer.from(hits.sortBy(h => (h.to, h.from)))
    if (longestOnly) Automaton.longestPerStart(sorted) else sorted
  }
}
