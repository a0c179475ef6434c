package graft.text

/** Python-compatible string predicates and cleaners.
  *
  * The reference pipeline leans on CPython string semantics
  * (`str.isnumeric`, `str.isalnum`, `string.punctuation`, `str.strip`) and
  * on `cleantext.clean` / `ftfy.fix_bad_unicode`. Output equality dies on
  * any divergence (SURVEY.md §7.4), so the exact character classes are
  * replicated here.
  */
object PyText {

  /** Python `string.punctuation` — exactly these 32 ASCII chars
    * (used at export.py:380-381).
    */
  val Punctuation: Set[Char] = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""".toSet

  /** Python `str.strip()` strips Unicode whitespace (isspace). Java's
    * `String.trim` only strips <= 0x20, `strip()` uses isWhitespace which
    * misses NBSP; Python's str.isspace covers the Unicode space set plus
    * 0x1c-0x1f. This covers both.
    */
  def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c) || (c >= '\u001c' && c <= '\u001f') || c == '\u0085'

  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Python `str.isnumeric` per char: Unicode Numeric_Type Decimal/Digit/
    * Numeric — i.e. Nd, Nl, No general categories.
    */
  def isNumericChar(c: Char): Boolean = Character.getType(c) match {
    case Character.DECIMAL_DIGIT_NUMBER | Character.LETTER_NUMBER | Character.OTHER_NUMBER => true
    case _ => false
  }

  /** Python `str.isnumeric`: non-empty and all chars numeric. */
  def isNumeric(s: String): Boolean = s.nonEmpty && s.forall(isNumericChar)

  /** Python per-char `isalnum`: alpha or numeric. */
  def isAlnumChar(c: Char): Boolean = Character.isLetter(c) || isNumericChar(c)

  /** Inverse of the windows-1252 decode for the 0x80-0x9F gap: cp1252
    * mojibake ("â€™" for a right quote) round-trips through these chars,
    * which Latin-1 alone cannot encode (€ has no Latin-1 byte). Built
    * programmatically from the JDK's own cp1252 decoder.
    */
  private val Cp1252Inverse: Map[Char, Int] =
    (0x80 to 0x9F).map { b =>
      new String(Array(b.toByte), java.nio.charset.Charset.forName("windows-1252"))
        .charAt(0) -> b
    }.toMap

  /** chars -> the byte sequence a Latin-1/cp1252 misread would have come
    * from; None when some char fits neither (then it was not mojibake).
    */
  private def sloppyBytes(s: String): Option[Array[Byte]] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x100) out(i) = c.toByte
      else Cp1252Inverse.get(c) match {
        case Some(b) => out(i) = b.toByte
        case None => return None
      }
      i += 1
    }
    Some(out)
  }

  /** Deterministic subset of ftfy's `fix_text` defaults, which is what
    * cleantext's `fix_bad_unicode` is (called at export.py:392,
    * doc_info.py:88). Steps, in ftfy's order:
    *
    *  1. fix_encoding: repair UTF-8-read-as-Latin-1/cp1252 mojibake
    *     ("Ã¼" -> "ü", "â€™" -> curly quote), iterated to fixpoint so
    *     double-encoded text ("ÃƒÂ¼") also repairs. A repair is applied
    *     only when the whole string strictly re-decodes as UTF-8 — ftfy's
    *     "don't make it worse" principle.
    *  2. unescape_html (full HTML 4.01 named table + numeric entities;
    *     see NamedEntities for the exact coverage contract),
    *  3. remove_terminal_escapes (ANSI CSI sequences),
    *  4. fix_character_width (per-char NFKC over the FF01-FFEF block:
    *     fullwidth ASCII -> narrow, halfwidth katakana -> wide),
    *  5. uncurl_quotes (curly -> straight),
    *  6. fix_line_breaks (\r\n, \r, NEL, LS, PS, VT, FF -> \n),
    *  7. fix_surrogates (lone UTF-16 surrogate units -> U+FFFD; valid
    *     pairs are already the astral char on the JVM),
    *  8. remove_control_chars (Cc except \n and \t; plus BOM),
    *  9. NFC normalization.
    *
    * Named-entity coverage is COMPLETE (full WHATWG semicolon-form list,
    * Html5Entities, PLUS the 106 semicolon-less legacy names with
    * CPython html.unescape's longest-match-then-backtrack rule);
    * excluded by contract: semicolon-less NUMERIC forms, the C1 numeric
    * remap, and Latin ligature decomposition (NFKC-only in ftfy too).
    * Fixtures stay inside this subset (FIXTURES.md §7).
    */
  def fixBadUnicode(s: String): String = {
    var cur = s
    if (!isAscii(cur)) {
      var rounds = 0
      while (rounds < 3 && looksMojibake(cur)) {
        val redecoded = sloppyBytes(cur).flatMap { bytes =>
          try {
            val dec = java.nio.charset.StandardCharsets.UTF_8
              .newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
          } catch { case _: Exception => None }
        }
        redecoded match {
          case Some(r) if r != cur => cur = r; rounds += 1
          case _ => rounds = 3 // not repairable further
        }
      }
    }
    cur = unescapeHtml(cur)
    cur = removeTerminalEscapes(cur)
    cur = fixCharacterWidth(cur)
    cur = uncurlQuotes(cur)
    cur = fixLineBreaks(cur)
    cur = fixSurrogates(cur)
    cur = removeControlChars(cur)
    // every step above is a no-op returning the same reference on clean
    // input, so clean ASCII strings pass through allocation-free
    if (isAscii(cur)) cur
    else java.text.Normalizer.normalize(cur, java.text.Normalizer.Form.NFC)
  }

  /** Full HTML 4.01 named-entity table (the 252-name W3C character
    * reference list: Latin-1, Latin Extended, Greek, general punctuation,
    * letterlike/arrows/math/misc symbols) plus XML's `apos` — the static
    * table behind ftfy's unescape_html step (round-2 verdict item 9).
    * `lang`/`rang` carry their HTML5 values (U+27E8/U+27E9 mathematical
    * angle brackets; HTML4's 9001/9002 were redefined by HTML5, which is
    * the table ftfy reads via html.unescape). [[Html5Entities]] extends
    * this to the COMPLETE WHATWG list (2,125 semicolon-form names incl.
    * the math-alphanumeric families and the 93 multi-codepoint
    * sequences). Unknown entities and
    * semicolon-less legacy forms are left untouched rather than guessed
    * (conservative vs html.unescape's longest-prefix rewriting — ftfy's
    * "don't make it worse" principle applied one step further).
    */
  private val NamedEntities: Map[String, String] = {
    // codepoints U+00A0..U+00FF in order
    val latin1Names = Array(
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
      "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
      "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
      "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
      "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
      "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
      "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
      "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
      "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
      "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")
    val latin1 = latin1Names.zipWithIndex
      .map { case (n, i) => n -> (0xA0 + i).toChar.toString }
    val rest = Seq(
      "amp" -> 0x26, "lt" -> 0x3C, "gt" -> 0x3E, "quot" -> 0x22, "apos" -> 0x27,
      // Latin Extended + spacing modifiers
      "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
      "Yuml" -> 376, "fnof" -> 402, "circ" -> 710, "tilde" -> 732,
      // Greek
      "Alpha" -> 913, "Beta" -> 914, "Gamma" -> 915, "Delta" -> 916,
      "Epsilon" -> 917, "Zeta" -> 918, "Eta" -> 919, "Theta" -> 920,
      "Iota" -> 921, "Kappa" -> 922, "Lambda" -> 923, "Mu" -> 924,
      "Nu" -> 925, "Xi" -> 926, "Omicron" -> 927, "Pi" -> 928,
      "Rho" -> 929, "Sigma" -> 931, "Tau" -> 932, "Upsilon" -> 933,
      "Phi" -> 934, "Chi" -> 935, "Psi" -> 936, "Omega" -> 937,
      "alpha" -> 945, "beta" -> 946, "gamma" -> 947, "delta" -> 948,
      "epsilon" -> 949, "zeta" -> 950, "eta" -> 951, "theta" -> 952,
      "iota" -> 953, "kappa" -> 954, "lambda" -> 955, "mu" -> 956,
      "nu" -> 957, "xi" -> 958, "omicron" -> 959, "pi" -> 960,
      "rho" -> 961, "sigmaf" -> 962, "sigma" -> 963, "tau" -> 964,
      "upsilon" -> 965, "phi" -> 966, "chi" -> 967, "psi" -> 968,
      "omega" -> 969, "thetasym" -> 977, "upsih" -> 978, "piv" -> 982,
      // general punctuation
      "ensp" -> 8194, "emsp" -> 8195, "thinsp" -> 8201, "zwnj" -> 8204,
      "zwj" -> 8205, "lrm" -> 8206, "rlm" -> 8207, "ndash" -> 8211,
      "mdash" -> 8212, "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218,
      "ldquo" -> 8220, "rdquo" -> 8221, "bdquo" -> 8222, "dagger" -> 8224,
      "Dagger" -> 8225, "bull" -> 8226, "hellip" -> 8230, "permil" -> 8240,
      "prime" -> 8242, "Prime" -> 8243, "lsaquo" -> 8249, "rsaquo" -> 8250,
      "oline" -> 8254, "frasl" -> 8260, "euro" -> 8364,
      // letterlike
      "image" -> 8465, "weierp" -> 8472, "real" -> 8476, "trade" -> 8482,
      "alefsym" -> 8501,
      // arrows
      "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595,
      "harr" -> 8596, "crarr" -> 8629, "lArr" -> 8656, "uArr" -> 8657,
      "rArr" -> 8658, "dArr" -> 8659, "hArr" -> 8660,
      // mathematical operators
      "forall" -> 8704, "part" -> 8706, "exist" -> 8707, "empty" -> 8709,
      "nabla" -> 8711, "isin" -> 8712, "notin" -> 8713, "ni" -> 8715,
      "prod" -> 8719, "sum" -> 8721, "minus" -> 8722, "lowast" -> 8727,
      "radic" -> 8730, "prop" -> 8733, "infin" -> 8734, "ang" -> 8736,
      "and" -> 8743, "or" -> 8744, "cap" -> 8745, "cup" -> 8746,
      "int" -> 8747, "there4" -> 8756, "sim" -> 8764, "cong" -> 8773,
      "asymp" -> 8776, "ne" -> 8800, "equiv" -> 8801, "le" -> 8804,
      "ge" -> 8805, "sub" -> 8834, "sup" -> 8835, "nsub" -> 8836,
      "sube" -> 8838, "supe" -> 8839, "oplus" -> 8853, "otimes" -> 8855,
      "perp" -> 8869, "sdot" -> 8901,
      // technical / geometric / misc symbols
      "lceil" -> 8968, "rceil" -> 8969, "lfloor" -> 8970, "rfloor" -> 8971,
      "lang" -> 0x27E8, "rang" -> 0x27E9, "loz" -> 9674,
      "spades" -> 9824, "clubs" -> 9827, "hearts" -> 9829, "diams" -> 9830)
    rest.map { case (n, cp) =>
      n -> new String(Character.toChars(cp))
    }.toMap ++ latin1 ++ Html5Entities
  }

  /** The complete WHATWG HTML5 named-character-reference list (semicolon
    * forms), loaded from the `graft/html5_entities.tsv` resource — 2,125
    * names, including the six mathematical-alphanumeric letter families,
    * the 93 multi-CODEPOINT entities (`fjlig` -> "fj", `ThickSpace` ->
    * U+205F U+200A, combining-mark pairs like `bnequiv`), and every rare
    * negated-relation/operator name. Together with the LEGACY
    * semicolon-less table below, named-reference coverage now equals
    * `html.unescape`'s (the reference's actual dependency through
    * cleantext/ftfy); the remaining exclusions are semicolon-less
    * NUMERIC forms and the C1 numeric remap, both still excluded by
    * documented contract.
    *
    * The resource is generated once from the public WHATWG table (the
    * same data `html.entities.html5` ships) with XGolden-style escaping
    * (`\\`, `\t`, `\n`, `\r`); PyTextSpec pins family exceptions,
    * long names, remaps (ohm/angst), and multi-codepoint cases.
    */
  private def loadEntityTsv(resource: String): Map[String, String] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"$resource resource missing")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    lines.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      // fail loudly AT LOAD on a malformed line, not with an opaque
      // StringIndexOutOfBounds inside an executor task later
      require(i > 0, s"malformed $resource line: '$l'")
      val sb = new StringBuilder
      var k = i + 1
      while (k < l.length) {
        val c = l.charAt(k)
        if (c == '\\' && k + 1 < l.length) {
          l.charAt(k + 1) match {
            case '\\' => sb.append('\\')
            case 't' => sb.append('\t')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case o => sb.append('\\').append(o)
          }
          k += 2
        } else { sb.append(c); k += 1 }
      }
      l.substring(0, i) -> sb.toString
    }.toMap
  }

  private lazy val Html5Entities: Map[String, String] =
    loadEntityTsv("/graft/html5_entities.tsv")

  /** The 106 WHATWG LEGACY names that decode WITHOUT a trailing
    * semicolon (`&amp`, `&AMP`, `&copy`, the latin-1 letter set …) —
    * exactly the semicolon-less keys of `html.entities.html5`. These
    * participate in the spec's longest-match-then-backtrack rule (an
    * unknown reference body is retried against its legacy-name
    * prefixes, CPython html.unescape's loop), which web text hits
    * constantly (`&ampx` -> `&x`, `&notit;` -> `¬it;`).
    */
  private lazy val LegacyEntities: Map[String, String] =
    loadEntityTsv("/graft/html5_entities_legacy.tsv")

  // named body is a maximal alphanumeric run with OPTIONAL semicolon —
  // the semicolon-less legacy forms and the backtrack rule need to see
  // the whole run; numeric forms still require the ';' (documented
  // contract: html.unescape also accepts bare numerics, we don't)
  private val EntityRe =
    "&(#[0-9]{1,7};|#[xX][0-9a-fA-F]{1,6};|[a-zA-Z][a-zA-Z0-9]{1,31};?)".r

  /** package-visible: the HTML main-content extractor decodes entities
    * with the same table/semantics as the ftfy step (graft.html).
    * TEXT semantics = CPython `html.unescape` for named references:
    * exact semicolon form, else the legacy semicolon-less table, else
    * longest-match-then-backtrack over legacy-name prefixes (length >=
    * 2), else verbatim.
    */
  private[graft] def unescapeHtml(s: String): String =
    unescapeHtml(s, inAttribute = false)

  /** ATTRIBUTE semantics (WHATWG tokenizer): a legacy (semicolon-less)
    * match whose next character is `=` or alphanumeric is NOT decoded —
    * the rule that keeps `href="?a=1&copy=2"` a working URL — and the
    * backtrack rule never fires (the char after the matched prefix is
    * alphanumeric by construction). Exact semicolon forms and numeric
    * references decode as in text.
    */
  private[graft] def unescapeHtmlAttr(s: String): String =
    unescapeHtml(s, inAttribute = true)

  private def unescapeHtml(s: String, inAttribute: Boolean): String = {
    if (s.indexOf('&') < 0) return s
    def codePoint(cp: Int, orig: String): String =
      if (cp >= 0x20 && cp <= 0x10FFFF &&
        !(cp >= 0xD800 && cp <= 0xDFFF)) new String(Character.toChars(cp))
      else orig
    // CPython's backtrack loop: longest legacy-name prefix, length >= 2;
    // the suffix (alphanumerics and/or the trailing ';') stays verbatim
    def backtrack(body: String): String = {
      var x = body.length - 1
      while (x >= 2) {
        val p = body.substring(0, x)
        LegacyEntities.get(p) match {
          case Some(v) => return v + body.substring(x)
          case None => ()
        }
        x -= 1
      }
      "&" + body
    }
    EntityRe.replaceAllIn(s, m => {
      val body = m.group(1)
      val rep =
        if (body.startsWith("#x") || body.startsWith("#X"))
          codePoint(Integer.parseInt(body.substring(2,
            body.length - 1), 16), m.matched)
        else if (body.startsWith("#"))
          codePoint(body.substring(1, body.length - 1).toInt, m.matched)
        else if (body.endsWith(";")) {
          NamedEntities.get(body.dropRight(1)) match {
            case Some(v) => v
            case None => if (inAttribute) m.matched else backtrack(body)
          }
        } else if (inAttribute) {
          // next char after the maximal run: '=' suppresses the legacy
          // decode; any other non-alphanumeric allows it
          val next = m.end
          val nextIsEq = next < s.length && s.charAt(next) == '='
          if (nextIsEq) m.matched
          else LegacyEntities.getOrElse(body, m.matched)
        } else LegacyEntities.getOrElse(body, backtrack(body))
      scala.util.matching.Regex.quoteReplacement(rep)
    })
  }

  private val AnsiRe = "\u001b\\[[0-9;]*[A-Za-z]".r

  private def removeTerminalEscapes(s: String): String =
    if (s.indexOf(0x1b) < 0) s else AnsiRe.replaceAllIn(s, "")

  /** ftfy fix_character_width: per-character NFKC over the Halfwidth and
    * Fullwidth Forms block (U+FF01–U+FFEF) — fullwidth ASCII narrows
    * (ＬＯＵＤ -> LOUD), halfwidth katakana widens (ｶ -> カ, with ﾞ/ﾟ
    * becoming combining voicing marks that the pipeline's final NFC then
    * composes, ｶﾞ -> ガ), halfwidth punctuation/arrows normalize — the
    * same per-char table ftfy builds from NFKC. Characters outside the
    * block are untouched (full NFKC would also decompose ligatures etc.,
    * which ftfy's default does NOT do).
    */
  /** Precomputed per-codepoint NFKC for the FF01-FFEF block (the same
    * static table ftfy builds): CJK/halfwidth-heavy corpora hit this in
    * the extraction hot path, so it's an array index per char, not a
    * Normalizer call per char.
    */
  private lazy val WidthMap: Array[String] =
    Array.tabulate(0xFFEF - 0xFF01 + 1) { i =>
      val c = (0xFF01 + i).toChar.toString
      val n = java.text.Normalizer.normalize(c, java.text.Normalizer.Form.NFKC)
      if (n == c) null else n // null = identity, skip the append-by-string
    }

  private def fixCharacterWidth(s: String): String = {
    if (!s.exists(c => (c >= 0xFF01 && c <= 0xFFEF) || c == 0x3000)) return s
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      if (c >= 0xFF01 && c <= 0xFFEF) {
        val m = WidthMap(c - 0xFF01)
        if (m == null) sb.append(c) else sb.append(m)
      }
      else if (c == 0x3000) sb.append(' ') // ideographic space, like ftfy
      else sb.append(c)
    }
    sb.toString
  }

  /** ftfy fix_surrogates, restated for UTF-16 JVM strings: a valid
    * high+low pair already IS the astral character here (nothing to
    * merge), so the repair is replacing LONE surrogate code units —
    * which arrive from surrogateescape'd/corrupt upstream decoders and
    * break any later UTF-8 encode — with U+FFFD.
    */
  private def fixSurrogates(s: String): String = {
    if (!s.exists(Character.isSurrogate)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        sb.append(c).append(s.charAt(i + 1))
        i += 2
      } else {
        if (Character.isSurrogate(c)) sb.append('�') else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def uncurlQuotes(s: String): String = {
    if (!s.exists(c => c == '‘' || c == '’' ||
      c == '“' || c == '”')) return s
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '‘' | '’' => sb.append('\'')
      case '“' | '”' => sb.append('"')
      case c => sb.append(c)
    }
    sb.toString
  }

  private def isLineBreakChar(c: Char): Boolean =
    c == '\r' || c == '\u000b' || c == '\u000c' ||
      c == '\u0085' || c == '\u2028' || c == '\u2029'

  private def fixLineBreaks(s: String): String = {
    if (!s.exists(isLineBreakChar)) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') {
        sb.append('\n'); i += 2
      } else {
        sb.append(if (isLineBreakChar(c)) '\n' else c); i += 1
      }
    }
    sb.toString
  }

  private def isStrippedControl(c: Char): Boolean =
    (Character.getType(c) == Character.CONTROL && c != '\n' && c != '\t') ||
      c == '\ufeff'

  private def removeControlChars(s: String): String = {
    if (!s.exists(isStrippedControl)) return s
    val sb = new StringBuilder(s.length)
    s.foreach(c => if (!isStrippedControl(c)) sb.append(c))
    sb.toString
  }

  def isAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return false
      i += 1
    }
    true
  }

  /** Heuristic: contains a UTF-8 lead byte char (0xC2-0xF4 range as chars)
    * followed by a continuation-range char — either a raw 0x80-0xBF char
    * (Latin-1 misread) or a cp1252 gap char like € / ™ (cp1252 misread,
    * whose source bytes 0x80-0x9F are all in the continuation range).
    */
  private def looksMojibake(s: String): Boolean = {
    var i = 0
    while (i < s.length - 1) {
      val a = s.charAt(i).toInt
      val bc = s.charAt(i + 1)
      val b = bc.toInt
      if (a >= 0xC2 && a <= 0xF4 &&
        ((b >= 0x80 && b <= 0xBF) || Cp1252Inverse.contains(bc))) return true
      i += 1
    }
    false
  }

  /** ASCII transliteration table for the German/French subset our corpus
    * uses — stands in for cleantext's `to_ascii=True` (unidecode) default.
    */
  private val translit: Map[Char, String] = Map(
    'ä' -> "a", 'ö' -> "o", 'ü' -> "u", 'Ä' -> "A", 'Ö' -> "O", 'Ü' -> "U",
    'ß' -> "ss", 'é' -> "e", 'è' -> "e", 'ê' -> "e", 'à' -> "a", 'ç' -> "c",
    'É' -> "E", 'ñ' -> "n", '’' -> "'", '‘' -> "'", '“' -> "\"", '”' -> "\"",
    '–' -> "-", '—' -> "-", '…' -> "...")

  private def toAsciiApprox(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      translit.get(c) match {
        case Some(r) => sb.append(r)
        case None =>
          if (c < 128) sb.append(c)
          else {
            // decompose and drop combining marks; non-ASCII leftovers dropped
            val d = java.text.Normalizer.normalize(c.toString, java.text.Normalizer.Form.NFKD)
            d.foreach(dc => if (dc < 128) sb.append(dc))
          }
      }
    }
    sb.toString
  }

  /** `cleantext.clean(text, no_punct=True)` subset: fix unicode, to_ascii,
    * lowercase, strip punctuation, normalize whitespace (export.py:401).
    */
  def cleanNoPunct(s: String): String = {
    val ascii = toAsciiApprox(fixBadUnicode(s)).toLowerCase(java.util.Locale.ROOT)
    val noPunct = ascii.filterNot(Punctuation.contains)
    normalizeWhitespace(noPunct)
  }

  /** `cleantext.clean(text, replace_with_number="", no_punct=True)` subset:
    * additionally replaces number tokens with "" (doc_info.py:161-163).
    * cleantext's NUMBERS_REGEX matches digit groups with optional
    * separators; a digit-run (with , . separators) replace is the subset
    * our fixtures need.
    */
  def cleanNoPunctNoNumber(s: String): String = {
    val ascii = toAsciiApprox(fixBadUnicode(s)).toLowerCase(java.util.Locale.ROOT)
    val noNum = ascii.replaceAll("""[0-9]+(?:[.,][0-9]+)*""", "")
    val noPunct = noNum.filterNot(Punctuation.contains)
    normalizeWhitespace(noPunct)
  }

  private def normalizeWhitespace(s: String): String =
    s.split("\\s+", -1).filter(_.nonEmpty).mkString(" ")

  /** `strip_spaces_line_end` (string_utils.py:1-12): recursively remove a
    * single space before a trailing newline. Matches the reference's
    * (non-tail) recursion shape — depth is the count of trailing " \n"
    * pairs, bounded by line count, so no stack concern in practice.
    */
  def stripSpacesLineEnd(text: String): String = {
    // recurse on text[:-2] WITHOUT the newline, exactly like the
    // reference (string_utils.py:11): "the text  \n" keeps one space ->
    // "the text \n" (re-appending the newline before recursing would
    // strip ALL trailing spaces — a byte-level output divergence)
    if (text.length < 2) text
    else if (text.charAt(text.length - 1) == '\n' && text.charAt(text.length - 2) == ' ')
      stripSpacesLineEnd(text.substring(0, text.length - 2)) + "\n"
    else text
  }

  /** Multiset (Counter-based) character Jaccard similarity, matching
    * textdistance's default `jaccard` with qval=1 (doc_info.py:8, 118):
    * |A ∩ B| / |A ∪ B| with min/max multiplicities.
    */
  def jaccardChars(a: String, b: String): Double =
    jaccardCounts(charCounts(a), charCounts(b))

  /** The char multiset of `s`, as [[jaccardCounts]] reads it. */
  def charCounts(s: String): Map[Char, Int] = s.groupMapReduce(identity)(_ => 1)(_ + _)

  /** [[jaccardChars]] over two [[charCounts]]. */
  def jaccardCounts(ca: Map[Char, Int], cb: Map[Char, Int]): Double = {
    if (ca.isEmpty && cb.isEmpty) return 1.0
    val keys = ca.keySet ++ cb.keySet
    var inter = 0L
    var union = 0L
    keys.foreach { k =>
      val x = ca.getOrElse(k, 0)
      val y = cb.getOrElse(k, 0)
      inter += math.min(x, y)
      union += math.max(x, y)
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Python `statistics.median`: sort, middle element or mean of the two
    * middles (doc_info.py:76-80 expands a Counter then takes median —
    * equivalent to the weighted form below).
    */
  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of empty sequence")
    val s = values.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def medianFromCounter(c: Iterable[(Double, Int)]): Double =
    median(c.flatMap { case (v, n) => Seq.fill(n)(v) }.toSeq)

  /** First-minimum index — `scores.index(min(scores))`
    * (dehyphen_wrapper.py:58-60).
    */
  def argminFirst(xs: Seq[Double]): Int = {
    var best = 0
    var i = 1
    while (i < xs.length) {
      if (xs(i) < xs(best)) best = i
      i += 1
    }
    best
  }
}

/** Insertion-ordered counter replicating CPython `collections.Counter`
  * including the `most_common(1)` tie-break (first-inserted wins, because
  * CPython's heapq.nlargest over dict items is stable in iteration order =
  * insertion order; doc_info.py:64, 261 and export.py:518).
  */
final class LinkedCounter[K] {
  private val m = new java.util.LinkedHashMap[K, Long]()

  def update(items: IterableOnce[K]): Unit =
    items.iterator.foreach(add(_, 1L))

  def add(k: K, n: Long): Unit = {
    val cur = m.get(k)
    m.put(k, cur + n)
  }

  def isEmpty: Boolean = m.isEmpty
  def size: Int = m.size

  /** most_common(1)[0][0]: highest count; ties broken by insertion order. */
  def mostCommon1: K = {
    require(!m.isEmpty, "most_common on empty counter")
    var bestK: K = null.asInstanceOf[K]
    var bestV = Long.MinValue
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > bestV) { bestV = e.getValue; bestK = e.getKey }
    }
    bestK
  }

  def entries: Vector[(K, Long)] = {
    val b = Vector.newBuilder[(K, Long)]
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result()
  }
}
