package graft.text

/** FTS query language: implicit AND, `NOT`, `OR`, `"quoted phrase"`,
  * `prefix*`, parenthesized grouping, `NEAR(...)`, and `^` first-token
  * anchors — the FTS5 surface the reference passes through to MATCH
  * (reference dogsheep_beta/__init__.py:131; cases proven in
  * tests/test_plugin.py:119-152: `things NOT email`, `#dogfest`,
  * `github-to-sqlite`).
  *
  * Grammar (FTS5 precedence: NOT binds tighter than AND, AND tighter
  * than OR; colset semantics pinned against SQLite FTS5 directly —
  * a colset binds the NEXT unit only, whitespace around ':' is legal,
  * `-colset` matches every indexed column EXCEPT the named ones):
  * {{{
  *   query   := orExpr
  *   orExpr  := andExpr (OR andExpr)*
  *   andExpr := notExpr ((AND)? notExpr)*     -- juxtaposition = AND
  *   notExpr := unit (NOT unit)*
  *   unit    := "phrase words" | "phrase words"* | term | term* | ^anchor
  *            | '(' orExpr ')' | NEAR '(' anchor+ (',' N)? ')'
  *            | colset ':' unit | '-' colset ':' unit
  *   colset  := col | '{' col+ '}'
  *   anchor  := "phrase words" | "phrase words"* | term | term*
  * }}}
  *
  * Documented divergences from SQLite FTS5 (all strict supersets —
  * every FTS5-valid query parses identically; fts5parse.y's `exprlist`
  * only juxtaposes phrases): juxtaposition means AND uniformly, so
  * `(a OR b) c` parses here where FTS5 proper wants `(a OR b) AND c`;
  * prefix tokens (bare `x*`, phrase-prefix last tokens, prefix
  * anchors) are folded but never stemmed, where FTS5's porter stems
  * them.
  *
  * A token that is not bare-alphanumeric (e.g. `#dogfest`,
  * `github-to-sqlite`) is a syntax error, matching FTS5; the caller then
  * applies the escape fallback (reference __init__.py:141-145 +
  * datasette's `escape_fts`): every whitespace-token is re-parsed as a
  * quoted phrase literal — so `#dogfest` matches docs containing token
  * `dogfest`, and `github-to-sqlite` becomes the phrase
  * `"github to sqlite"` (which misses unless contiguous).
  */
object FtsQuery {

  sealed trait Node
  final case class Term(t: String) extends Node
  final case class Prefix(p: String) extends Node
  final case class Phrase(ts: Seq[String]) extends Node
  final case class And(ns: Seq[Node]) extends Node
  final case class Or(ns: Seq[Node]) extends Node
  /** positive AND-NOT: `a NOT b` — matches `pos` minus `neg`. */
  final case class Not(pos: Node, neg: Node) extends Node
  /** FTS5 column filter `col:unit` — restrict the unit's match to one
    * indexed field (`title` or `search_1`; unknown columns are syntax
    * errors, as in FTS5).
    */
  final case class Field(field: String, n: Node) extends Node
  /** FTS5 `NEAR(p1 p2 ..., N)`: all phrases occur in ONE field with
    * instances spanning no more than N intervening tokens —
    * max(start) - min(end) <= N + 1, pinned against SQLite FTS5
    * (default N = 10). Each element is a phrase's token list.
    */
  final case class Near(ps: Seq[Seq[String]], n: Int) extends Node
  /** FTS5 `^phrase`: the phrase must start at the field's first token. */
  final case class First(ts: Seq[String]) extends Node

  /** FTS5's NEAR default distance. */
  val NearDefault = 10

  /** The FTS-indexed columns (reference utils.py:90). */
  val indexedFields: Set[String] = Set("title", "search_1")

  final class FtsParseError(msg: String) extends RuntimeException(msg)

  // FTS5 bareword characters: ASCII alphanumerics, '_', and every
  // codepoint above 0x7F (fts5 docs §3; ADVICE r2) — so `café NOT foo`
  // and `snake_case` parse natively; `#dogfest` / `github-to-sqlite`
  // stay syntax errors that trigger the escape fallback.
  private val bareToken = "^[A-Za-z0-9_\\u0080-\\uffff]+$".r
  private val prefixToken = "^[A-Za-z0-9_\\u0080-\\uffff]+\\*$".r

  /** Parse; throws [[FtsParseError]] on any FTS5-invalid input. */
  def parse(q: String, mode: Tokenize.Value): Node = {
    val toks = lex(q)
    val p = new Parser(toks, mode)
    val n = p.parseOr()
    if (!p.atEnd) throw new FtsParseError(s"trailing input: ${p.peek}")
    n
  }

  /** The reference's 2-phase contract: parse as query language, else
    * escape every whitespace token into a literal phrase, AND them
    * (reference __init__.py:141-145). Totality: never throws on
    * non-empty input with at least one alphanumeric char; returns None
    * if nothing tokenizes (blank-query normalize, __init__.py:64).
    */
  def parseOrEscape(q: String, mode: Tokenize.Value): Option[Node] = {
    val trimmed = q.trim
    if (trimmed.isEmpty) return None
    try Some(parse(trimmed, mode))
    catch {
      case _: FtsParseError =>
        val phrases = trimmed.split("\\s+").toSeq
          .map(t => Phrase(Tokenizer.tokenize(t, mode)))
          .filter(_.ts.nonEmpty)
        if (phrases.isEmpty) None
        else if (phrases.size == 1) Some(phrases.head)
        else Some(And(phrases))
    }
  }

  /** Request-level parse: default mode is the 2-phase
    * [[parseOrEscape]] contract; `raw = true` (the
    * `?_searchmode=raw` extension — Datasette-table-view style, not
    * present on the reference beta route)
    * SKIPS the escape fallback — a malformed query surfaces its
    * [[FtsParseError]] to the caller instead of degrading to literal
    * phrases. Blank-query normalize applies in both modes.
    */
  def parseRequest(q: String, mode: Tokenize.Value,
      raw: Boolean): Option[Node] =
    if (!raw) parseOrEscape(q, mode)
    else {
      val trimmed = q.trim
      if (trimmed.isEmpty) None else Some(parse(trimmed, mode))
    }

  /** All positive terms (for BM25 scoring) — terms under the right side
    * of NOT are excluded.
    */
  def positiveTerms(n: Node): Seq[String] = n match {
    case Term(t)       => Seq(t)
    case Prefix(_)     => Seq.empty // scored via matched postings, not exact terms
    case Phrase(ts)    => ts.filterNot(_.endsWith("*")) // phrase-prefix last token
    case And(ns)       => ns.flatMap(positiveTerms)
    case Or(ns)        => ns.flatMap(positiveTerms)
    case Not(pos, _)   => positiveTerms(pos)
    case Field(_, m)   => positiveTerms(m)
    case Near(ps, _)   => ps.flatten.filterNot(_.endsWith("*"))
    case First(ts)     => ts.filterNot(_.endsWith("*"))
  }

  /** Direct evaluation of a match tree against one document's token
    * arrays — the expression-level MATCH used by
    * [[graft.functions.FtsMatch]] (brute-force score-scan semantics;
    * it is also the reference the indexed SearchEngine.matchSet is
    * tested against).
    */
  def matches(n: Node, title: IndexedSeq[String], s1: IndexedSeq[String]): Boolean = {
    // 0-based start positions of a phrase in one field's token array;
    // an anchor token with a trailing '*' is a starts-with match
    // (prefix anchors inside NEAR / ^ and phrase-prefix last tokens)
    def tokMatch(t: String, tok: String): Boolean =
      if (t.endsWith("*")) tok.startsWith(t.dropRight(1)) else tok == t
    def starts(ts: Seq[String], toks: IndexedSeq[String]): Seq[Int] =
      if (ts.size > toks.size) Seq.empty
      else (0 to toks.size - ts.size)
        .filter(s => ts.indices.forall(j => tokMatch(ts(j), toks(s + j))))
    // NEAR(ps, n): FTS5's rule is "no more than n tokens between"
    // — ∃ per-phrase instances with max(start) - min(end) ≤ n + 1
    // (pinned against SQLite FTS5 directly: adjacent phrases match at
    // n = 0; a@0 b@2 c@4 matches at n = 3) ⟺ ∃ anchor end m (of any
    // instance) s.t. every phrase has an instance with end ≥ m and
    // start ≤ m + n + 1 — polynomial, no cross-product of instance
    // choices (proof: take m = min chosen end)
    def nearIn(ps: Seq[Seq[String]], n: Int, toks: IndexedSeq[String]): Boolean = {
      val occ = ps.map(ts => starts(ts, toks).map(s => (s, s + ts.size - 1)))
      occ.forall(_.nonEmpty) && occ.flatten.map(_._2).exists(m =>
        occ.forall(_.exists { case (s, e) => e >= m && s <= m + n + 1 }))
    }
    def ev(n: Node, fields: Seq[IndexedSeq[String]]): Boolean = n match {
      case Term(t)      => fields.exists(_.contains(t))
      case Prefix(p)    => fields.exists(_.exists(_.startsWith(p)))
      case Phrase(ts)   => fields.exists(starts(ts, _).nonEmpty)
      case And(ns)      => ns.forall(ev(_, fields))
      case Or(ns)       => ns.exists(ev(_, fields))
      case Not(pos, ng) => ev(pos, fields) && !ev(ng, fields)
      case Field(f, m)  => ev(m, Seq(if (f == "title") title else s1))
      case Near(ps, k)  => fields.exists(nearIn(ps, k, _))
      case First(ts)    => fields.exists(f => starts(ts, f).contains(0))
    }
    ev(n, Seq(title, s1))
  }

  // ---- lexer ---------------------------------------------------------

  private sealed trait Tok
  private case object TAnd extends Tok
  private case object TOr extends Tok
  private case object TNot extends Tok
  private case object TLParen extends Tok
  private case object TRParen extends Tok
  private case object TComma extends Tok
  private case object TCaret extends Tok
  private case object TColon extends Tok
  private case object TMinus extends Tok
  private case object TNear extends Tok
  private final case class TTerm(s: String) extends Tok
  private final case class TPrefix(s: String) extends Tok
  private final case class TPhrase(s: String) extends Tok
  /** `"phrase"*` — quoted phrase with a trailing star (fts5 §3: the
    * LAST token becomes a prefix match).
    */
  private final case class TPhrasePrefix(s: String) extends Tok
  /** `{col1 col2}` — a brace colset (names validated at lex time, like
    * FTS5's "no such column" error at parse time).
    */
  private final case class TColset(names: Seq[String]) extends Tok

  // structural delimiter chars end a bareword; '^' deliberately does
  // NOT (a mid-word caret like `a^b` is an FTS5 syntax error → escape
  // fallback, while a word-initial caret lexes as TCaret below).
  // ':' / '-' / '{' / '}' ARE structural (FTS5 tokenizes them
  // standalone: `title : x`, `-title: x`, `{a b}: x` all parse), so a
  // word never contains them; `github-to-sqlite` still dies in the
  // PARSER (TMinus where a unit is expected) → escape fallback,
  // preserving the reference's behavior for that exact input.
  private def isDelim(c: Char): Boolean =
    c.isWhitespace || c == '"' || c == '(' || c == ')' || c == ',' ||
      c == ':' || c == '-' || c == '{' || c == '}'

  private def lex(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += TLParen; i += 1 }
      else if (c == ')') { out += TRParen; i += 1 }
      else if (c == ',') { out += TComma; i += 1 }
      else if (c == '^') { out += TCaret; i += 1 }
      else if (c == ':') { out += TColon; i += 1 }
      else if (c == '-') { out += TMinus; i += 1 }
      else if (c == '}') throw new FtsParseError("unmatched }")
      else if (c == '{') {
        val end = q.indexOf('}', i + 1)
        if (end < 0) throw new FtsParseError("unterminated colset")
        val names = q.substring(i + 1, end).trim.split("\\s+").toSeq
          .filter(_.nonEmpty)
        if (names.isEmpty) throw new FtsParseError("empty colset")
        names.find(!indexedFields.contains(_)).foreach(n =>
          throw new FtsParseError(s"no such column: $n"))
        out += TColset(names)
        i = end + 1
      }
      else if (c == '"') {
        val end = q.indexOf('"', i + 1)
        if (end < 0) throw new FtsParseError("unterminated phrase")
        if (end + 1 < q.length && q.charAt(end + 1) == '*') {
          out += TPhrasePrefix(q.substring(i + 1, end))
          i = end + 2
        } else {
          out += TPhrase(q.substring(i + 1, end))
          i = end + 1
        }
      } else {
        var j = i
        while (j < q.length && !isDelim(q.charAt(j))) j += 1
        val w = q.substring(i, j)
        w match {
          case "AND" => out += TAnd
          case "OR"  => out += TOr
          case "NOT" => out += TNot
          case "NEAR" if j < q.length && q.charAt(j) == '(' => out += TNear
          case _ if bareToken.matches(w)   => out += TTerm(w)
          case _ if prefixToken.matches(w) => out += TPrefix(w.dropRight(1))
          case _ => throw new FtsParseError(s"invalid token: $w")
        }
        i = j
      }
    }
    out.result()
  }

  // ---- parser --------------------------------------------------------

  private final class Parser(toks: Vector[Tok], mode: Tokenize.Value) {
    private var i = 0
    def atEnd: Boolean = i >= toks.length
    def peek: Tok = toks(i)

    def parseOr(): Node = {
      var parts = Vector(parseAnd())
      while (!atEnd && peek == TOr) { i += 1; parts :+= parseAnd() }
      if (parts.size == 1) parts.head else Or(parts)
    }

    def parseAnd(): Node = {
      var parts = Vector(parseNot())
      var continue = true
      while (continue && !atEnd) peek match {
        case TAnd => i += 1; parts :+= parseNot()
        case TTerm(_) | TPrefix(_) | TPhrase(_) | TPhrasePrefix(_) |
             TColset(_) | TMinus | TLParen | TCaret | TNear =>
          parts :+= parseNot()
        case _ => continue = false
      }
      if (parts.size == 1) parts.head else And(parts)
    }

    def parseNot(): Node = {
      var n = parseUnit()
      while (!atEnd && peek == TNot) { i += 1; n = Not(n, parseUnit()) }
      n
    }

    def parseUnit(): Node = {
      if (atEnd) throw new FtsParseError("unexpected end of query")
      val t = peek
      i += 1
      t match {
        case TTerm(s) if !atEnd && peek == TColon =>
          // bareword colset: `title: x` / `title : x` — the name must
          // be an indexed column (FTS5: "no such column" otherwise)
          i += 1
          colsetNode(Seq(s), neg = false)
        case TTerm(s) =>
          val ts = Tokenizer.tokenize(s, mode)
          if (ts.isEmpty) throw new FtsParseError(s"empty term: $s")
          if (ts.size == 1) Term(ts.head) else Phrase(ts)
        case TPrefix(s) =>
          // prefixes are lowercased + diacritic-folded like indexed
          // tokens, but NOT stemmed: a partial word is not a stemmable
          // word (FTS5's porter would stem it — documented divergence)
          Prefix(Tokenizer.foldDiacritics(s.toLowerCase(java.util.Locale.ROOT)))
        case TPhrase(s) =>
          val ts = Tokenizer.tokenize(s, mode)
          if (ts.isEmpty) throw new FtsParseError(s"empty phrase: $s")
          Phrase(ts)
        case TPhrasePrefix(s) => phrasePrefixNode(s)
        case TColset(names) =>
          if (atEnd || peek != TColon)
            throw new FtsParseError("expected : after colset")
          i += 1
          colsetNode(names, neg = false)
        case TMinus =>
          // negated colset `-col: x` / `-{a b}: x` (fts5 §3: match in
          // every indexed column EXCEPT the named ones)
          if (atEnd) throw new FtsParseError("unexpected end after -")
          val names = peek match {
            case TTerm(s)       => i += 1; Seq(s)
            case TColset(ns)    => i += 1; ns
            case other => throw new FtsParseError(s"expected colset after -: $other")
          }
          if (atEnd || peek != TColon)
            throw new FtsParseError("expected : after negated colset")
          i += 1
          colsetNode(names, neg = true)
        case TLParen =>
          val n = parseOr()
          if (atEnd || peek != TRParen) throw new FtsParseError("expected )")
          i += 1
          n
        case TCaret => First(parseAnchor())
        case TNear =>
          if (atEnd || peek != TLParen) throw new FtsParseError("expected ( after NEAR")
          i += 1
          var ps = Vector.empty[Seq[String]]
          while (!atEnd && (peek match {
            case TTerm(_) | TPhrase(_) | TPrefix(_) | TPhrasePrefix(_) => true
            case _ => false
          })) ps :+= parseAnchor()
          if (ps.isEmpty) throw new FtsParseError("empty NEAR group")
          val dist =
            if (!atEnd && peek == TComma) {
              i += 1
              peek match {
                case TTerm(d) if d.forall(_.isDigit) && d.nonEmpty =>
                  i += 1; d.toInt
                case other => throw new FtsParseError(s"bad NEAR distance: $other")
              }
            } else NearDefault
          if (atEnd || peek != TRParen) throw new FtsParseError("expected ) to close NEAR")
          i += 1
          Near(ps, dist)
        case other => throw new FtsParseError(s"unexpected: $other")
      }
    }

    /** A phrase anchor (the operand of `^` and the members of NEAR):
      * a bareword, quoted phrase, or bare prefix (`urg*`), tokenized.
      * A prefix anchor encodes as a single starred token (`"urg*"`) —
      * the evaluators ([[matches]], SearchEngine's positional legs,
      * OracleGen) treat a
      * trailing `*` on an anchor token as a starts-with match. Like
      * [[Prefix]], prefix anchors fold but are NOT stemmed.
      */
    private def parseAnchor(): Seq[String] = {
      if (atEnd) throw new FtsParseError("unexpected end of query")
      val t = peek
      i += 1
      t match {
        case TTerm(s) =>
          val ts = Tokenizer.tokenize(s, mode)
          if (ts.isEmpty) throw new FtsParseError(s"empty term: $s")
          ts
        case TPhrase(s) =>
          val ts = Tokenizer.tokenize(s, mode)
          if (ts.isEmpty) throw new FtsParseError(s"empty phrase: $s")
          ts
        case TPrefix(s) =>
          Seq(Tokenizer.foldDiacritics(
            s.toLowerCase(java.util.Locale.ROOT)) + "*")
        case TPhrasePrefix(s) =>
          phrasePrefixTokens(s)
        case other => throw new FtsParseError(s"expected phrase, got: $other")
      }
    }

    /** `"a b"*` token list: every token as usual, the LAST starred and
      * — like [[Prefix]] — folded but NOT stemmed (a partial word is
      * not a stemmable word).
      */
    private def phrasePrefixTokens(s: String): Seq[String] = {
      val ts = Tokenizer.tokenize(s, mode)
      if (ts.isEmpty) throw new FtsParseError(s"empty phrase: $s")
      val unstemMode =
        if (mode == Tokenize.Porter) Tokenize.Unicode61 else mode
      val raw = Tokenizer.tokenize(s, unstemMode)
      // stemming is 1:1 over the same split, so the lists align
      ts.init :+ (raw.last + "*")
    }

    /** `"a b"*` as a node: a single-token phrase-prefix IS a prefix. */
    private def phrasePrefixNode(s: String): Node = {
      val ts = phrasePrefixTokens(s)
      if (ts.size == 1) Prefix(ts.head.dropRight(1)) else Phrase(ts)
    }

    /** Column-filter node from a (possibly negated) colset. The engine
      * schema has exactly two indexed fields, so the restriction
      * normalizes at parse time: the full set unwraps (no restriction),
      * a singleton keeps the existing one-column [[Field]] node, and
      * the empty set (e.g. `-{title search_1}: x`) can match nothing —
      * encoded as `Not(x, x)`, identically false over any document.
      */
    private def colsetNode(names: Seq[String], neg: Boolean): Node = {
      names.find(!indexedFields.contains(_)).foreach(n =>
        throw new FtsParseError(s"no such column: $n"))
      val set =
        if (neg) indexedFields -- names.toSet else names.toSet
      val inner = parseUnit()
      if (set == indexedFields) inner
      else if (set.isEmpty) Not(inner, inner)
      else Field(set.head, inner)
    }
  }
}
