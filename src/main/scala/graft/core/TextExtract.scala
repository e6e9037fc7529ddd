package graft.core

import java.nio.charset.StandardCharsets

/**
 * Deterministic HTML -> text extraction (SURVEY.md §1.7). The per-row
 * invariant in BASELINE.json ("byte-identical extracted text per url")
 * makes this a correctness function, not preprocessing, so the grammar is
 * small and fully specified:
 *
 *  1. UTF-8 decode with the standard REPLACE policy (malformed sequences
 *     become U+FFFD — fixed, documented).
 *  2. Drop <script>...</script> and <style>...</style> including content
 *     (case-insensitive tag names; at each '<' the first matching opener
 *     wins; an unterminated block drops to end of input).
 *  3. Strip all other tags `<...>` (non-greedy to the next '>').
 *  4. Decode exactly the 5 core entities &amp; &lt; &gt; &quot; &#NN;
 *     (decimal and &#xNN; hex numeric references) on the tag-stripped
 *     text (so an entity split by a removed tag still decodes).
 *  5. Collapse all whitespace runs to a single space; trim.
 *
 * Implementation is two fused passes (strip incl. script/style drop, then
 * entities + collapse) with no full-string case-conversion copies — this
 * function runs on every row of a 10^12-row corpus, so allocation churn is
 * the scaling bottleneck, not CPU.
 */
object TextExtract {

  def extract(html: Array[Byte]): String = extractFromString(
    new String(html, StandardCharsets.UTF_8)) // CharsetDecoder REPLACE policy

  def extractFromString(s: String): String =
    decodeAndCollapse(stripTags(s))

  @inline private def startsWithCI(s: String, i: Int, word: String): Boolean = {
    if (i + word.length > s.length) return false
    var k = 0
    while (k < word.length) {
      val c = s.charAt(i + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != word.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Case-insensitive index of `word` in `s` from `from`; -1 if absent. */
  @inline private def indexOfCI(s: String, from: Int, word: String): Int = {
    var i = from
    val limit = s.length - word.length
    while (i <= limit) {
      if (startsWithCI(s, i, word)) return i
      i += 1
    }
    -1
  }

  /** Pass 1: drop script/style elements (content included) and all tags. */
  private def stripTags(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        var dropped = false
        var w = 0
        while (!dropped && w < 2) {
          val name = if (w == 0) "script" else "style"
          if (startsWithCI(s, i + 1, name) &&
              (i + 1 + name.length == s.length ||
               !Character.isLetterOrDigit(s.charAt(i + 1 + name.length)))) {
            val close = "</" + name + ">"
            val end = indexOfCI(s, i, close)
            i = if (end < 0) s.length else end + close.length
            dropped = true
          }
          w += 1
        }
        if (!dropped) {
          val gt = s.indexOf('>', i + 1)
          i = if (gt < 0) s.length else gt + 1
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** Replacement text for an entity body ("amp", "#233", "#x2F", ...), or
    * null when the body is not one of the 5 core entities / a strictly-
    * digits numeric reference (no '+'/'-' sign, no underscores, no
    * whitespace) — same rule as the mini-oracle, so the two
    * implementations can never disagree on exotic input. */
  private def entityReplacement(body: String): String = body match {
    case "amp" => "&"
    case "lt" => "<"
    case "gt" => ">"
    case "quot" => "\""
    case _ if body.startsWith("#x") || body.startsWith("#X") =>
      val digits = body.substring(2)
      if (digits.nonEmpty && digits.forall(ch =>
            (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f') ||
            (ch >= 'A' && ch <= 'F')))
        try new String(Character.toChars(Integer.parseInt(digits, 16)))
        catch { case _: Exception => null }
      else null
    case _ if body.startsWith("#") =>
      val digits = body.substring(1)
      if (digits.nonEmpty && digits.forall(ch => ch >= '0' && ch <= '9'))
        try new String(Character.toChars(Integer.parseInt(digits)))
        catch { case _: Exception => null }
      else null
    case _ => null
  }

  /** Pass 2: entity decode + whitespace collapse + trim, fused. */
  private def decodeAndCollapse(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    @inline def emit(str: String): Unit = {
      var k = 0
      while (k < str.length) { emitChar(str.charAt(k)); k += 1 }
    }
    @inline def emitChar(c: Char): Unit = {
      if (Character.isWhitespace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val rep = entityReplacement(s.substring(i + 1, semi))
          if (rep != null) { emit(rep); i = semi + 1 }
          else { emitChar(c); i += 1 }
        } else { emitChar(c); i += 1 }
      } else { emitChar(c); i += 1 }
    }
    sb.toString
  }

  /** countWsTokens(extract(html)) WITHOUT materializing the extracted
    * string: the extracted text joins tokens with single spaces, so tokens
    * = pendingSpace flushes + 1 — the counting loop mirrors
    * decodeAndCollapse's emit logic (shared entityReplacement) minus both
    * the output StringBuilder and the String->UTF8String re-encode. This is
    * the flagship's token path (the coverage job derives ONLY a count from
    * the extracted text); equality with the two-step form is property-
    * tested in TextSpec, and the TokenCountWs(ExtractText(_)) rewrite in
    * GraftExtensions applies it plan-wide. */
  def extractTokenCount(html: Array[Byte]): Int = {
    // ASCII fast path (round-6 session 2: ONE fused pass — tag/script
    // drop, cross-tag entity decode and token counting run in a single
    // scan of the raw bytes; previously an ASCII pre-pass + strip-to-
    // buffer pass + counting pass, i.e. ~3 passes and a copy per row).
    // The fused scan bails with -1 the moment a byte >= 0x80 reaches TEXT
    // content, an entity window, or a script/style name boundary — those
    // need the exact string path (unicode whitespace classes, REPLACE
    // decoding, Character.isLetterOrDigit). High bytes wholly inside
    // dropped tags or script/style bodies stay on the fast path: '<' and
    // '>' and the close-marker letters are ASCII, and no UTF-8 multibyte
    // (or malformed-REPLACE) byte can alias or consume an ASCII byte, so
    // the skip logic is byte/char equivalent there (fuzz-pinned in
    // TextSpec, incl. unicode-inside-tag samples).
    val n = countTokensAsciiFused(html)
    if (n >= 0) n
    else countTokensFromString(new String(html, StandardCharsets.UTF_8))
  }

  def countTokensFromString(raw: String): Int = {
    val s = stripTags(raw)
    var spaces = 0
    var pendingSpace = false
    var started = false
    @inline def emit(str: String): Unit = {
      var k = 0
      while (k < str.length) { emitChar(str.charAt(k)); k += 1 }
    }
    @inline def emitChar(c: Char): Unit = {
      if (Character.isWhitespace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { spaces += 1; pendingSpace = false }
        started = true
      }
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val rep = entityReplacement(s.substring(i + 1, semi))
          if (rep != null) { emit(rep); i = semi + 1 }
          else { emitChar(c); i += 1 }
        } else { emitChar(c); i += 1 }
      } else { emitChar(c); i += 1 }
    }
    spaces + 1
  }

  // --- ASCII byte-level twins of stripTags + the counting pass.
  // countTokensAsciiFused is the extractTokenCount fast path (one scan);
  // the TextSpec fuzz pins it against the pre-fusion strip-then-count
  // form (test sources) and the authoritative string-path oracle. ---

  /** Fused single-pass ASCII counter: the strip dispatch runs directly on
    * the raw bytes and every surviving content byte feeds a tiny
    * entity/whitespace state machine ([[AsciiTokenMachine]]) — no scratch
    * buffer, no second pass. Returns -1 when a byte >= 0x80 reaches text
    * content, a pending entity window, or the byte right after a
    * script/style name (whose letter-or-digit classification is
    * char-semantic): the caller must then take the exact string path.
    * High bytes confined to tag/script interiors are skipped byte-wise,
    * which is exactly what the decoded-string strip does there (ASCII
    * delimiters cannot be produced or consumed by multibyte/malformed
    * UTF-8 sequences). */
  private[core] def countTokensAsciiFused(s: Array[Byte]): Int = {
    val m = new AsciiTokenMachine
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '<') {
        var dropped = false
        var w = 0
        while (!dropped && w < 2) {
          val name = if (w == 0) "script" else "style"
          if (startsWithCIB(s, i + 1, name)) {
            val bAfter = i + 1 + name.length
            if (bAfter < s.length && s(bAfter) < 0)
              return -1 // char-class of the boundary byte is not ASCII-decidable
            if (bAfter == s.length || !isAsciiLetterOrDigit(s(bAfter))) {
              val close = "</" + name + ">"
              val end = indexOfCIB(s, i, close)
              i = if (end < 0) s.length else end + close.length
              dropped = true
            }
          }
          w += 1
        }
        if (!dropped) {
          var gt = i + 1
          while (gt < s.length && s(gt) != '>') gt += 1
          i = if (gt >= s.length) s.length else gt + 1
        }
      } else if (c < 0) {
        return -1
      } else if (m.idle) {
        // run-skip fast path (no pending entity): only the FIRST byte of a
        // plain or whitespace run changes counter state — the rest of the
        // run is consumed by a 2-op table loop. Both tables are false for
        // '<', '&' and bytes >= 0x80, so runs always stop exactly at the
        // next dispatch-relevant byte.
        if (c == '&') { m.feed(c); i += 1 }
        else if (WsB(c)) {
          m.wsChar(); i += 1
          while (i < s.length && WsB(s(i) & 0xff)) i += 1
        } else {
          m.plainChar(); i += 1
          while (i < s.length && PlainB(s(i) & 0xff)) i += 1
        }
      } else {
        m.feed(c)
        i += 1
      }
    }
    m.finish()
  }

  // byte-class tables for the fused scanner's run loops (index b & 0xff).
  // WS = the ASCII subset of Character.isWhitespace (0x09-0x0D, 0x1C-0x1F,
  // 0x20); PLAIN = ASCII and none of '<' '&' or WS. Bytes >= 0x80 are in
  // neither class.
  private val WsB: Array[Boolean] = {
    val t = new Array[Boolean](256)
    var c = 0x09; while (c <= 0x0D) { t(c) = true; c += 1 }
    c = 0x1C; while (c <= 0x1F) { t(c) = true; c += 1 }
    t(0x20) = true
    t
  }
  private val PlainB: Array[Boolean] = {
    val t = new Array[Boolean](256)
    var c = 0
    while (c < 128) { t(c) = !WsB(c) && c != '<' && c != '&'; c += 1 }
    t
  }

  /** The post-strip entity + whitespace-collapse token counter as a
    * streaming byte machine. The only buffered state is the pending
    * entity window ('&' + up to 10 more chars — a ';' beyond offset 10
    * can no longer resolve, the exact `semi - i <= 10` rule of the
    * buffered form). A failed window emits its '&' and RE-FEEDS the tail
    * through the machine — the streaming equivalent of the buffered
    * form's "emit '&', resume scanning at the next char", which may start
    * a new entity inside the old window. The re-feed runs in place over
    * the `ent` array: writes (a new pending) always trail reads (the old
    * tail), at every nesting depth, so no copy is needed; nesting depth
    * and the drain loop in [[finish]] are bounded because each flush
    * consumes the leading '&'. */
  private final class AsciiTokenMachine {
    private[this] var spaces = 0
    private[this] var pendingSpace = false
    private[this] var started = false
    private[this] val ent = new Array[Byte](12)
    private[this] var entLen = 0

    @inline private def emitCp(cp: Int): Unit = {
      // int overload == per-char semantics here: all whitespace codepoints
      // are BMP, and surrogate halves of supplementary chars are never
      // whitespace either way. ASCII range test inlined (identical set to
      // Character.isWhitespace below 0x80: 0x09-0x0D, 0x1C-0x1F, 0x20);
      // entity-decoded codepoints >= 0x80 take the library classifier.
      val ws =
        if (cp < 0x80) cp == 0x20 || (cp >= 0x09 && cp <= 0x0D) || (cp >= 0x1C && cp <= 0x1F)
        else Character.isWhitespace(cp)
      if (ws) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { spaces += 1; pendingSpace = false }
        started = true
      }
    }

    /** No pending entity — the caller may take the run-skip fast path. */
    def idle: Boolean = entLen == 0

    /** State update for the first byte of a plain (non-ws, non-'&',
      * non-'<', ASCII) run — emitCp(non-ws) with the classification
      * pre-decided by the caller's table. */
    def plainChar(): Unit = {
      if (pendingSpace) { spaces += 1; pendingSpace = false }
      started = true
    }

    /** State update for the first byte of an ASCII whitespace run. */
    def wsChar(): Unit = { if (started) pendingSpace = true }

    def feed(c: Byte): Unit = {
      if (entLen == 0) {
        if (c == '&') { ent(0) = '&'; entLen = 1 }
        else emitCp(c)
      } else {
        ent(entLen) = c
        entLen += 1
        if (c == ';' && entLen <= 11) { // ';' at offset <= 10: decodable window
          val cp = entityCodepointAscii(ent, 1, entLen - 1)
          if (cp >= 0) { entLen = 0; emitCp(cp) } else flushFailed()
        } else if (entLen == 12) flushFailed() // window exceeded
      }
    }

    private def flushFailed(): Unit = {
      val n = entLen
      entLen = 0
      emitCp('&')
      var k = 1
      while (k < n) { feed(ent(k)); k += 1 }
    }

    def finish(): Int = {
      while (entLen > 0) flushFailed() // EOF drain; shrinks every round
      spaces + 1
    }
  }

  @inline private[core] def startsWithCIB(s: Array[Byte], i: Int, word: String): Boolean = {
    if (i + word.length > s.length) return false
    var k = 0
    while (k < word.length) {
      val c = s(i + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
      if (lc != word.charAt(k).toByte) return false
      k += 1
    }
    true
  }

  @inline private[core] def indexOfCIB(s: Array[Byte], from: Int, word: String): Int = {
    var i = from
    val limit = s.length - word.length
    while (i <= limit) {
      if (startsWithCIB(s, i, word)) return i
      i += 1
    }
    -1
  }

  @inline private[core] def isAsciiLetterOrDigit(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  /** Byte twin of [[entityReplacement]], returning the decoded CODEPOINT
    * (all five named entities and valid numeric references decode to one
    * codepoint) or -1 when the body is not a recognized entity. */
  private[core] def entityCodepointAscii(s: Array[Byte], from: Int, to: Int): Int = {
    val len = to - from
    @inline def is(word: String): Boolean = {
      if (len != word.length) return false
      var k = 0
      while (k < len) { if (s(from + k) != word.charAt(k).toByte) return false; k += 1 }
      true
    }
    if (is("amp")) '&'
    else if (is("lt")) '<'
    else if (is("gt")) '>'
    else if (is("quot")) '"'
    else if (len >= 2 && s(from) == '#' && (s(from + 1) == 'x' || s(from + 1) == 'X')) {
      var v = 0L
      var k = from + 2
      if (k >= to) return -1
      while (k < to) {
        val b = s(k)
        val d =
          if (b >= '0' && b <= '9') b - '0'
          else if (b >= 'a' && b <= 'f') b - 'a' + 10
          else if (b >= 'A' && b <= 'F') b - 'A' + 10
          else return -1
        v = v * 16 + d
        if (v > Int.MaxValue) return -1 // Integer.parseInt would overflow
        k += 1
      }
      if (Character.isValidCodePoint(v.toInt)) v.toInt else -1
    } else if (len >= 1 && s(from) == '#') {
      var v = 0L
      var k = from + 1
      if (k >= to) return -1
      while (k < to) {
        val b = s(k)
        if (b < '0' || b > '9') return -1
        v = v * 10 + (b - '0')
        if (v > Int.MaxValue) return -1
        k += 1
      }
      if (Character.isValidCodePoint(v.toInt)) v.toInt else -1
    } else -1
  }

  /** Tokens separated by a single space, counting empty segments — exact
    * `size(split(text, ' '))` semantics without materializing the array
    * (the hot token-count path of the coverage job). */
  def countWsTokens(s: String): Int = {
    var n = 1
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') n += 1
      i += 1
    }
    n
  }
}
