package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}

/** One parsed deck record: `keywordIdx` is the global keyword ordinal (the
  * ordering spine every schedule state machine keys on — SURVEY.md §1.1
  * "stateful scan"), `recordIdx` the record ordinal within the keyword.
  * `items` holds raw tokens with `n*v` repeats expanded and defaulted slots
  * normalized to the literal `"1*"` (mapped to null/default downstream).
  * An empty `items` is a table-terminator record (meaningful for PVT-style
  * per-region tables — reference `emptyrecordcountername`, common.py:214-229).
  */
final case class DeckEvent(
    keywordIdx: Int,
    keyword: String,
    recordIdx: Int,
    items: Seq[String],
    deckId: String = "")

/** Tokenizer for Eclipse-style simulator decks.
  *
  * A brand-new single-pass Scala tokenizer (the reference delegates to the
  * opm.io C++ parser, resdatafiles.py:79-90; this replaces it). Grammar
  * handled: `--` comments, keyword lines (known-keyword registry
  * disambiguates table ends — which kills the reference's trial-reparse
  * dimension inference, inferdims.py:18-84), records terminated by `/`
  * (trailing text after the slash ignored), quoted strings, `n*` default
  * runs and `n*v` repeat runs.
  *
  * Decks are driver-sized artifacts (text written by engineers); the parse
  * is driver-side and the result becomes a local relation, so the
  * single-deck modules type and reshape it on the driver without a job.
  * For many-deck corpora, parse inside mapPartitions over (path, text)
  * pairs instead (the `eclipse-deck` source) — the tokenizer is a pure
  * function.
  */
object DeckParser {

  /** Keywords the tokenizer recognizes as section/record starters. A token
    * line only starts a new keyword if it is in this registry, so numeric
    * table rows can never be mistaken for keywords.
    */
  val KnownKeywords: Set[String] = Set(
    // schedule
    "DATES", "START", "TSTEP", "COMPDAT", "WELSPECS", "WELOPEN", "WLIST",
    "COMPLUMP", "WCONPROD", "WCONHIST", "WCONINJE", "WCONINJH", "GRUPTREE",
    "GRUPNET", "BRANPROP", "NODEPROP", "WSEGVALV", "WSEGAICD", "WSEGSICD",
    "WELSEGS", "COMPSEGS",
    // props / tables
    "SWOF", "SGOF", "SWFN", "SGFN", "SOF2", "SOF3", "SLGOF", "SGWFN",
    "PVTO", "PVDO", "PVTG", "PVDG", "PVTW", "DENSITY", "ROCK",
    "EQUIL", "RSVD", "RVVD", "PBVD", "PDVD",
    // grid / region
    "FAULTS", "MULTFLT", "EQLNUM", "FIPNUM", "SATNUM", "PVTNUM", "EDITNNC",
    // misc sections commonly seen in decks
    "RUNSPEC", "GRID", "EDIT", "PROPS", "REGIONS", "SOLUTION", "SUMMARY",
    "SCHEDULE", "END", "ECHO", "NOECHO", "TITLE", "DIMENS", "TABDIMS",
    "EQLDIMS", "OIL", "WATER", "GAS", "DISGAS", "VAPOIL", "METRIC", "FIELD",
    "VFPPROD", "VFPINJ", "INCLUDE",
  )

  /** Keywords that take no records at all (section headers / flags). */
  val NoRecordKeywords: Set[String] = Set(
    "RUNSPEC", "GRID", "EDIT", "PROPS", "REGIONS", "SOLUTION", "SUMMARY",
    "SCHEDULE", "END", "ECHO", "NOECHO", "OIL", "WATER", "GAS", "DISGAS",
    "VAPOIL", "METRIC", "FIELD")

  private val RepeatRe = """^(\d+)\*(.*)$""".r

  /** Split one line into raw tokens (strips `--` comments, honors quotes). */
  def tokenizeLine(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (c == '-' && i + 1 < n && line.charAt(i + 1) == '-') i = n // comment
      else if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val end = line.indexOf(c, i + 1)
        val stop = if (end < 0) n else end
        out += line.substring(i + 1, stop)
        i = stop + 1
      } else {
        var j = i
        while (j < n && !line.charAt(j).isWhitespace && line.charAt(j) != '\'' && line.charAt(j) != '"') j += 1
        out += line.substring(i, j)
        i = j
      }
    }
    out.result()
  }

  /** Expand `n*` / `n*v` runs; `/` terminates the record (returns items and
    * whether the terminator was seen).
    */
  private def expand(tokens: Vector[String]): (Vector[String], Boolean) = {
    val out = Vector.newBuilder[String]
    var terminated = false
    tokens.takeWhile { t => // stop at the record terminator
      if (t == "/" || t.startsWith("/")) { terminated = true; false } else true
    }.foreach {
      case RepeatRe(cnt, "")  => (1 to cnt.toInt).foreach(_ => out += "1*")
      case RepeatRe(cnt, v)   => (1 to cnt.toInt).foreach(_ => out += v)
      case t                  => out += t
    }
    (out.result(), terminated)
  }

  /** Unknown-keyword shape: up to 8 chars, uppercase letters and digits.
    * Underscores are deliberately excluded — real Eclipse keywords never
    * contain them, while well/group names conventionally do (OP_1), and a
    * lone well name opening a multi-line record must stay record data.
    */
  private val UnknownKeywordRe = "^[A-Z][A-Z0-9]{0,7}$".r

  /** @param deckId corpus key carried on every event — the partition key
    *   for all sequential-scan windows downstream (Schedule clock,
    *   keyword ordinals), so a many-deck corpus never funnels through a
    *   single global window partition. Single-deck callers keep the
    *   default (one constant partition — same plan, never the
    *   unpartitioned-window shape).
    */
  def parse(text: String, deckId: String = ""): Vector[DeckEvent] = {
    val events = Vector.newBuilder[DeckEvent]
    var kwIdx = -1
    var keyword: String = null
    var keywordSeen = false
    var recordIdx = 0
    var buf = Vector.empty[String]
    val lines = text.linesIterator.toVector
    val lineTokens = lines.map(tokenizeLine)
    for (li <- lines.indices) {
      val line = lines(li)
      val tokens = lineTokens(li)
      // a quoted first token is data (e.g. a group literally named 'FIELD'),
      // never a keyword; keywords also can't start mid-record
      val firstQuoted = line.dropWhile(_.isWhitespace).headOption.exists(c => c == '\'' || c == '"')
      val isKeywordLine = tokens.headOption.exists(t =>
        KnownKeywords.contains(t.toUpperCase)) && buf.isEmpty && !firstQuoted
      // Permissive recovery for keywords outside the registry (the
      // reference's PARSE_UNKNOWN_KEYWORD ignore mode,
      // resdatafiles.py:20-32): a keyword line carries the keyword ALONE.
      // Such a token between records starts an unknown keyword — its
      // records parse structurally under its own name (modules filter by
      // name, so they're inert) instead of corrupting the previous
      // keyword's data. Guards: TITLE's free-text record is consumed by
      // the TITLE branch below, never re-interpreted as a keyword; and
      // some following content must exist — a lone trailing token at EOF
      // is stray data, not a keyword. (A stricter shape test on the next
      // line would misclassify unknown keywords whose first record opens
      // with a lone token, detaching their records onto the previous
      // keyword — worse than the stray-token case it would catch.)
      lazy val nextContentOk =
        (li + 1 until lines.length).iterator.map(lineTokens).exists(_.nonEmpty)
      val isUnknownKeywordLine = !isKeywordLine && buf.isEmpty && !firstQuoted &&
        keyword != "TITLE" && tokens.size == 1 &&
        UnknownKeywordRe.matches(tokens.head) &&
        keywordSeen && // before any keyword, stray tokens stay ignored
        // a keyword that has not produced a single record yet cannot be
        // followed by a new keyword — a lone token right after one (e.g.
        // the head of an unknown keyword's own first record) is data
        (keyword == null || recordIdx > 0) &&
        nextContentOk
      if (keyword == "TITLE") {
        // TITLE's record is EXACTLY the next non-comment line, no `/`
        // terminator — checked BEFORE any keyword test so a title that is
        // a single uppercase word ("REEK") or starts with a keyword-shaped
        // token ("FIELD MODEL") still lands as the TITLE record. A blank
        // line is an EMPTY title (consuming it keeps the following real
        // keyword from being swallowed as title text); comment lines may
        // still precede the title.
        val trimmedLine = line.dropWhile(_.isWhitespace)
        if (!trimmedLine.startsWith("--")) {
          events += DeckEvent(kwIdx, keyword, 0, tokens, deckId)
          keyword = null
        }
      } else if (isKeywordLine || isUnknownKeywordLine) {
        kwIdx += 1
        keyword = tokens.head.toUpperCase
        keywordSeen = true
        recordIdx = 0
        if (NoRecordKeywords.contains(keyword)) {
          events += DeckEvent(kwIdx, keyword, 0, Nil, deckId)
          keyword = null
        } else if (keyword == "TITLE" && tokens.tail.nonEmpty) {
          // title text on the SAME line as the keyword: emit it directly —
          // stashing it in buf would poison record detection for the rest
          // of the deck (buf never empties once keyword is null)
          events += DeckEvent(kwIdx, keyword, 0, tokens.tail, deckId)
          keyword = null
        } else {
          // tokens after the keyword on the same line belong to record 0
          val (items, done) = expand(tokens.tail)
          buf = items
          if (done) {
            events += DeckEvent(kwIdx, keyword, recordIdx, buf, deckId)
            recordIdx += 1; buf = Vector.empty
          }
        }
      } else if (keyword != null) {
        val (items, done) = expand(tokens)
        buf = buf ++ items
        if (done) {
          events += DeckEvent(kwIdx, keyword, recordIdx, buf, deckId)
          recordIdx += 1; buf = Vector.empty
        }
      }
    }
    events.result()
  }

  /** Parse into a Dataset over a local relation of the deck's records. */
  def toDS(spark: SparkSession, text: String, deckId: String = ""): Dataset[DeckEvent] = {
    import spark.implicits._
    spark.createDataset(parse(text, deckId))
  }

  /** Textual INCLUDE expansion (reference follows includes through opm.io,
    * resdatafiles.py:79-90): `INCLUDE 'file' /` splices the file's text,
    * paths resolved relative to the including file, bounded recursion.
    */
  def expandIncludes(text: String, dir: java.nio.file.Path, depth: Int = 0): String = {
    require(depth < 16, "INCLUDE nesting too deep (cycle?)")
    val out = new StringBuilder
    var pendingInclude = false
    for (line <- text.linesIterator) {
      val tokens = tokenizeLine(line)
      if (!pendingInclude && tokens.headOption.exists(_.equalsIgnoreCase("INCLUDE"))) {
        pendingInclude = true
        // path may sit on the same line: INCLUDE 'x.inc' /
        if (tokens.size > 1) {
          spliceInclude(out, tokens(1), dir, depth)
          pendingInclude = false
        }
      } else if (pendingInclude) {
        if (tokens.nonEmpty) {
          spliceInclude(out, tokens.head, dir, depth)
          pendingInclude = false
        }
      } else out.append(line).append('\n')
    }
    out.toString
  }

  private def spliceInclude(out: StringBuilder, rawPath: String,
      dir: java.nio.file.Path, depth: Int): Unit = {
    val p = dir.resolve(rawPath.stripSuffix("/").trim)
    val sub = new String(java.nio.file.Files.readAllBytes(p))
    out.append(expandIncludes(sub, p.getParent, depth + 1))
  }

  /** Parse a deck file, following INCLUDEs. */
  def parseFile(path: String): Vector[DeckEvent] = {
    val p = java.nio.file.Paths.get(path)
    parse(expandIncludes(new String(java.nio.file.Files.readAllBytes(p)), p.getParent),
      deckId = p.toString)
  }
}
