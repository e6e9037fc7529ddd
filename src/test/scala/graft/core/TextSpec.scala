package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

class TextSpec extends AnyFunSuite with PropHelpers {

  def b(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  test("extract golden cases — byte-identical invariant") {
    assert(TextExtract.extract(b("<html><body><p>hello world</p></body></html>"))
      == "hello world")
    assert(TextExtract.extract(b("<p>a&amp;b &lt;c&gt; &quot;d&quot; &#233; &#x41;</p>"))
      == "a&b <c> \"d\" é A")
    assert(TextExtract.extract(b("<div>a</div>  \n\t <div>b</div>")) == "a b")
    assert(TextExtract.extract(b("x<script>var a = '<p>no</p>';</script>y")) == "xy")
    assert(TextExtract.extract(b("x<style>p { color: red }</style>y")) == "xy")
    assert(TextExtract.extract(b("<SCRIPT>s</SCRIPT>ok")) == "ok")
    // unknown entity passes through; stray & kept
    assert(TextExtract.extract(b("a &unknown; b & c")) == "a &unknown; b & c")
    // malformed UTF-8 -> U+FFFD, fixed policy
    val bad = Array[Byte]('a'.toByte, 0xC3.toByte, 'z'.toByte)
    assert(TextExtract.extract(bad) == "a�z")
    // utf-8 multibyte preserved
    assert(TextExtract.extract(b("<p>café 中文</p>")) == "café 中文")
  }

  test("fused extractTokenCount == countWsTokens(extract) on goldens + fuzz") {
    import org.scalacheck.Gen
    def twoStep(s: String): Int =
      TextExtract.countWsTokens(TextExtract.extractFromString(s))
    // goldens incl. the nasty cases: entity-encoded space (&#32; IS
    // whitespace after decode), NBSP (&#160; is NOT Java whitespace),
    // entity split by a stripped tag, unterminated script, empty text
    Seq("", "   ", "<p></p>", "<p>a b</p>", "a&#32;b", "a&#160;b",
        "&am<b>p;", "x<script>never closed", "a &unknown; b & c",
        "<p>a&amp;b &lt;c&gt; &#233; &#x41;</p>", "tail&", "&;x",
        "a\n\t  b\r\nc").foreach { s =>
      assert(TextExtract.countTokensFromString(s) == twoStep(s), s"golden: $s")
      assert(TextExtract.extractTokenCount(b(s)) == twoStep(s), s"bytes: $s")
    }
    // fuzz: random compositions of HTML-ish fragments. asciiFrag-only
    // samples exercise the byte-level fast path of extractTokenCount;
    // mixed samples (unicode text) exercise the string fallback — both
    // must equal the two-step form.
    val asciiFrag = Gen.oneOf(
      Gen.oneOf("a", "bb", "word", " ", "  ", "\n", "\t"),
      Gen.oneOf("<p>", "</p>", "<div class='x'>", "<", ">", "<br/>"),
      Gen.oneOf("<script>drop this</script>", "<style>s{}</style>",
        "<SCRIPT>v", "</script>", "<scripty>x</scripty>", "<style"),
      Gen.oneOf("&amp;", "&lt;", "&gt;", "&quot;", "&#32;", "&#160;",
        "&#x41;", "&#xD800;", "&#x110000;", "&#2147483647;", "&unknown;",
        "&", ";", "&#", "&#x;", "&#999999999999;", "&am", "p;"))
    val anyFrag = Gen.oneOf(asciiFrag, Gen.oneOf("中文", "é", "汉&amp;字"))
    Seq(Gen.listOfN(30, asciiFrag).map(_.mkString),
        Gen.listOfN(30, anyFrag).map(_.mkString)).foreach { gen =>
      forAll(gen) { s =>
        assert(TextExtract.countTokensFromString(s) == twoStep(s), s)
        assert(TextExtract.extractTokenCount(b(s)) == twoStep(s), s)
      }
    }
  }

  test("fused single-pass counter == two-pass reference + string oracle (round-6 s2)") {
    import org.scalacheck.Gen
    def twoStep(s: String): Int =
      TextExtract.countWsTokens(TextExtract.extractFromString(s))
    // machine-specific goldens: failed-window re-feed that starts a NEW
    // entity ("&a&lt;b"), nested failures ("&&&&&amp;"), ';'-at-offset-11
    // window overflow, entity resolving mid-re-feed, EOF drain chains,
    // entities split across several tags
    Seq("&a&lt;b", "&&amp;", "&&&&&amp;", "&abcdefghij;x", "&abcdefghijk;x",
        "&#3&#32;2;", "a&am<b></b>p;b", "&am<b>p", "&amp<i>;x",
        "&#x3C;&#x3C;", "&#32&#32;;", "tail&abc", "tail&abc&",
        "& &amp; &", "&;&;&;", "&lt<script>x</script>;y").foreach { s =>
      assert(TextExtract.extractTokenCount(b(s)) == twoStep(s), s"golden: $s")
      assert(TextExtract.countTokensAsciiFused(b(s))
        == TwoPassReference.countTokensAscii(b(s)), s"ref parity: $s")
    }
    // fused == two-pass reference on ASCII fuzz (the string-path oracle is
    // already asserted by the test above; this pins the two byte machines
    // against each other directly)
    val asciiFrag = Gen.oneOf(
      Gen.oneOf("a", "bb", "word", " ", "  ", "\n", "\t", ";", "&"),
      Gen.oneOf("<p>", "</p>", "<", ">", "<br/>", "<script>d</script>",
        "<style>s{}</style>", "</script>", "<style"),
      Gen.oneOf("&amp;", "&lt;", "&#32;", "&#160;", "&#x41;", "&unknown;",
        "&#", "&#x;", "&am", "p;", "&#999999999999;"))
    forAll(Gen.listOfN(30, asciiFrag).map(_.mkString)) { s =>
      assert(TextExtract.countTokensAsciiFused(b(s))
        == TwoPassReference.countTokensAscii(b(s)), s)
      assert(TextExtract.extractTokenCount(b(s)) == twoStep(s), s)
    }
    // path selection: high bytes confined to tag/script interiors stay on
    // the fast path (and agree with the string oracle); high bytes in text
    // content, entity windows, or at a script-name boundary bail to -1
    for (s <- Seq("<d中iv>a b", "<p title='中文'>x</p>", "y<script>var s='中'</script>z"))
      assert(TextExtract.countTokensAsciiFused(b(s)) == twoStep(s), s"fast: $s")
    for (s <- Seq("a中b", "x&am中;", "<script中>x</script>"))
      assert(TextExtract.countTokensAsciiFused(b(s)) == -1, s"bail: $s")
    // the script-boundary bail exists because char-classing is unicode-
    // aware on the string path: isLetterOrDigit('中') makes <script中> a
    // PLAIN tag there — the fallback must reproduce that
    assert(TextExtract.extractTokenCount(b("<script中>x</script>y"))
      == twoStep("<script中>x</script>y"))
  }

  test("extract determinism: same bytes -> same string, repeated") {
    val html = b("<html><p>a&amp;b</p><script>x</script> tail </html>")
    val once = TextExtract.extract(html)
    (1 to 100).foreach(_ => assert(TextExtract.extract(html) == once))
  }

  test("tagkey normalize golden cases") {
    assert(TagKey.normalize("it", "colosseo") == "it:Colosseo")
    assert(TagKey.normalize("en", "new_york_city") == "en:New york city")
    assert(TagKey.normalize("EN ", "  spaced   title ") == "en:Spaced title")
    assert(TagKey.normalize("de", "%C3%9Cberlingen") == "de:Überlingen")
    assert(TagKey.normalize("fr", "caf%c3%a9") == "fr:Café")
    assert(TagKey.normalize("en", "") == "en:")
    assert(TagKey.normalize("en", "a") == "en:A")
  }

  test("normalize is idempotent on the title part") {
    forAll(org.scalacheck.Arbitrary.arbitrary[String]) { s =>
      val once = TagKey.normalizeTitle(s)
      // percent-decoding twice can differ when the decode produces a new
      // %XX; idempotence holds when the first pass leaves no '%'
      if (!once.contains('%')) assert(TagKey.normalizeTitle(once) == once)
    }
  }

  test("tag classification routes malformed values") {
    assert(TagKey.classify("en:Foo") == TagKey.OK)
    assert(TagKey.classify("nap:Napoli") == TagKey.OK)
    assert(TagKey.classify("http://en.wikipedia.org/wiki/Foo") == TagKey.ErrUrl)
    assert(TagKey.classify("https://x") == TagKey.ErrUrl)
    assert(TagKey.classify("JustATitle") == TagKey.ErrMissingLang)
    assert(TagKey.classify("en:") == TagKey.ErrMissingLang)
    assert(TagKey.classify("english:Foo") == TagKey.ErrBadLang)
    assert(TagKey.classify("  ") == TagKey.ErrEmpty)
    assert(TagKey.parse("en:new_york") == Some("en:New york"))
    assert(TagKey.parse("nope") == None)
  }

  test("Horspool caseless searcher == naive byte scan (round-6 fuzz)") {
    import org.scalacheck.Gen
    def naive(hay: Array[Byte], needle: String, from: Int): Int = {
      val n = needle.length
      var i = math.max(0, from)
      while (i <= hay.length - n) {
        var j = 0
        while (j < n && {
          val c = (hay(i + j) & 0xff).toChar
          (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) == needle.charAt(j)
        }) j += 1
        if (j == n) return i
        i += 1
      }
      -1
    }
    val needles = Seq("geo.position", "icbm")
    val frag = Gen.oneOf(
      Gen.stringOfN(5, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('<', '>', '.', ' ', 'G', 'I'))),
      Gen.oneOf("geo.position", "GEO.POSITION", "Geo.Positio", "icbm", "ICBM",
        "icb", "ition", "geo.", "<meta ", "eo.positio"))
    val hayGen = Gen.listOfN(12, frag).map(_.mkString)
    forAll(hayGen, Gen.chooseNum(0, 40)) { (s, from) =>
      val hay = s.getBytes(StandardCharsets.UTF_8)
      needles.foreach { nd =>
        val searcher = new Geocode.CaselessSearcher(nd)
        // every restart offset, not just 0 — scanMarker resumes mid-page
        assert(searcher.indexOf(hay, from) == naive(hay, nd, from),
          s"needle=$nd from=$from hay=$s")
      }
    }
  }

  test("fromHtml == fromString on marker-bearing fuzz pages") {
    import org.scalacheck.Gen
    val markerGen = Gen.oneOf(
      """<meta name="geo.position" content="45.4;9.19">""",
      """<META NAME='GEO.POSITION' CONTENT='-1.5;-0.25'>""",
      """<meta name="ICBM" content="50.1, 8.68">""",
      // NOTE: an out-of-range-but-syntactic geo.position (content="999;0")
      // is deliberately absent: fromString (the test-only reference) stops
      // at the first syntactic geo match and returns None, while fromHtml
      // keeps scanning and can fall back to a later ICBM — a pre-existing
      // semantic split outside the shared contract (no query path builds
      // such pages; Pages/GeoFixtures markers are always in range)
      """<meta name="geo.position" content="bogus">""", // unparsable syntax
      "geo.position icbm", // bare marker text, no tag
      "")
    val fillGen = Gen.stringOfN(30,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('<', '>', ' ', '"', ';', ',')))
    forAll(Gen.listOfN(4, Gen.zip(fillGen, markerGen))) { parts =>
      val page = parts.map { case (f, m) => f + m }.mkString
      assert(Geocode.fromHtml(page.getBytes(StandardCharsets.UTF_8))
        == Geocode.fromString(page), s"page=$page")
    }
  }

  test("geocode meta tags") {
    assert(Geocode.fromString("""<meta name="geo.position" content="45.4;9.19">""")
      == Some((45.4, 9.19)))
    assert(Geocode.fromString("""<META NAME='geo.position' CONTENT='-1.5;-0.25'>""")
      == Some((-1.5, -0.25)))
    assert(Geocode.fromString("""<meta name="ICBM" content="50.1, 8.68">""")
      == Some((50.1, 8.68)))
    assert(Geocode.fromString("<p>no geo</p>") == None)
    assert(Geocode.fromString("""<meta name="geo.position" content="999;0">""") == None)
    // first geo.position wins over later ICBM
    val both = """<meta name="geo.position" content="1;2"><meta name="ICBM" content="3, 4">"""
    assert(Geocode.fromString(both) == Some((1.0, 2.0)))
  }
}

/** The pre-fusion ASCII token counter (strip to a buffer, then count), kept
  * as the parity reference the TextSpec fuzz pins
  * [[TextExtract.countTokensAsciiFused]] against. PRECONDITION: all-ASCII
  * input. */
private object TwoPassReference {
  def countTokensAscii(s: Array[Byte]): Int = {
    // pass 1: strip tags + script/style blocks into a byte buffer
    val buf = new Array[Byte](s.length)
    var blen = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '<') {
        var dropped = false
        var w = 0
        while (!dropped && w < 2) {
          val name = if (w == 0) "script" else "style"
          if (TextExtract.startsWithCIB(s, i + 1, name) &&
              (i + 1 + name.length == s.length ||
               !TextExtract.isAsciiLetterOrDigit(s(i + 1 + name.length)))) {
            val close = "</" + name + ">"
            val end = TextExtract.indexOfCIB(s, i, close)
            i = if (end < 0) s.length else end + close.length
            dropped = true
          }
          w += 1
        }
        if (!dropped) {
          var gt = i + 1
          while (gt < s.length && s(gt) != '>') gt += 1
          i = if (gt >= s.length) s.length else gt + 1
        }
      } else {
        buf(blen) = c; blen += 1
        i += 1
      }
    }
    // pass 2: entity decode + whitespace collapse, counting only
    var spaces = 0
    var pendingSpace = false
    var started = false
    @inline def emitCp(cp: Int): Unit = {
      // int overload == per-char semantics here: all whitespace codepoints
      // are BMP, and surrogate halves of supplementary chars are never
      // whitespace either way
      if (Character.isWhitespace(cp)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { spaces += 1; pendingSpace = false }
        started = true
      }
    }
    i = 0
    while (i < blen) {
      val c = buf(i)
      if (c == '&') {
        var semi = -1
        var j = i + 1
        while (semi < 0 && j < blen && j - i <= 10) {
          if (buf(j) == ';') semi = j
          j += 1
        }
        val cp = if (semi < 0) -1 else TextExtract.entityCodepointAscii(buf, i + 1, semi)
        if (cp >= 0) { emitCp(cp); i = semi + 1 }
        else { emitCp('&'); i += 1 }
      } else { emitCp(c); i += 1 }
    }
    spaces + 1
  }
}
