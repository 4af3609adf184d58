"""FROZEN html -> text extractor. DO NOT CHANGE THE ALGORITHM.

The engine's acceptance gate requires the extracted ``text`` column to be
byte-identical per url between the Spark UDF and the single-node oracle
(BASELINE.json:15 "byte-identical extracted text per url"). This module is
that reference extractor: a pure function of the html bytes, stdlib-only
(html.parser — no third-party lib whose minor version could change output;
SURVEY.md §7 hard-part #2). Both the Spark featurize stage and
crawlfe/oracle.py call *this exact function*, and the synthetic pages
generator uses it to materialize the golden ``text`` column.

Role in the reference pipeline shape: the payload-decode step — the analog
of the audio decode in ref: acoss/features.py::AudioFeatures.__init__ [R]
(bytes in, canonical per-entity signal out).

Algorithm (frozen, v1):
  1. decode html bytes as UTF-8 with errors="replace"
  2. parse with html.parser.HTMLParser (convert_charrefs=True, so entity
     and character references arrive decoded); a marked section it
     would reject with AssertionError (unknown keyword or no name, e.g.
     ``<![x]>``) is dropped up to the next ``]>`` instead
  3. drop all character data inside <script>, <style>, <noscript>,
     <template> elements (nesting-depth tracked)
  4. starting a new BLOCK tag (open or close) emits a line break; all other
     character data accumulates into the current line
  5. per line: collapse every run of whitespace to a single ASCII space,
     strip; drop empty lines
  6. join surviving lines with "\n"; no trailing newline
"""

from __future__ import annotations

import re as _re
from html import unescape as _unescape
from html.parser import HTMLParser

EXTRACTOR_VERSION = 1

_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})

_BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "br", "caption",
        "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
        "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hr",
        "html", "li", "main", "nav", "ol", "option", "p", "pre", "section",
        "table", "tbody", "td", "tfoot", "th", "thead", "title", "tr", "ul",
    }
)


# html.parser's marked-section grammar (_markupbase): a name token after
# '<![', the keywords it knows, and the MS Office '<![if ...]>' close.
_MARKED_NAME = _re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_KEYWORDS = frozenset(
    {"temp", "cdata", "ignore", "include", "rcdata", "if", "else", "endif"}
)
_MS_MARKED_CLOSE = _re.compile(r"]\s*>")


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._lines: list[str] = []
        self._cur: list[str] = []

    def _break(self) -> None:
        if self._cur:
            self._lines.append("".join(self._cur))
            self._cur = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        if tag in _BLOCK_TAGS:
            self._break()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        if tag in _BLOCK_TAGS:
            self._break()

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in _BLOCK_TAGS:
            self._break()

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        # _markupbase raises AssertionError on '<![' followed by an
        # unknown keyword or by no name at all ('<![x]>', '<![ ]>').
        # Skip such a section to the next ']>', the close html.parser
        # uses for '<![if ...]>', and report nothing; with no close,
        # return -1 as the known keywords do. Every other input goes
        # to the stdlib unchanged.
        raw = self.rawdata
        m = _MARKED_NAME.match(raw, i + 3)
        if m is None:
            rejected = i + 3 < len(raw)
        else:
            rejected = m.end() < len(raw) and (
                m.group().strip().lower() not in _MARKED_KEYWORDS
            )
        if not rejected:
            return super().parse_marked_section(i, report)
        close = _MS_MARKED_CLOSE.search(raw, i + 3)
        return close.end() if close else -1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._cur.append(data)

    def result(self) -> str:
        self._break()
        out: list[str] = []
        for line in self._lines:
            collapsed = " ".join(line.split())
            if collapsed:
                out.append(collapsed)
        return "\n".join(out)


def extract_text_reference(
    html: bytes | bytearray | memoryview | None,
) -> str:
    """The frozen reference extractor: html bytes -> canonical text
    (html.parser implementation — the v1 semantics, unchanged)."""
    if html is None:
        return ""
    raw = bytes(html).decode("utf-8", errors="replace")
    p = _TextExtractor()
    p.feed(raw)
    p.close()
    return p.result()


class _Fallback(Exception):
    """Raised by the fast scanner on any construct whose html.parser
    semantics it does not reproduce bit-exactly; the caller reruns the
    document through the reference parser."""


# One token per markup construct, each followed by the data segment
# after it, in html.parser goahead's dispatch order: '<' + letter, '</',
# '<!--', '<?', '<!', then a bare '<'. Groups: 1-2 the literal close of
# a script/style raw text, 3-4 start tag name and '/', 5 end tag name,
# 6 a dropped comment, declaration or processing instruction, 7 a bare
# '<', 8 the data. findall runs the whole tokenization in sre; the
# Python loop in _fast_scan only applies the block and skip rules to
# the matched tag names.
#
# Start tags (the raw-text alternatives and groups 3-4) use a provable
# subset of html.parser's locatestarttagend_tolerant for which
# parse_starttag yields the same (lowercased name, startend flag, end
# position): plain ASCII names, WHITESPACE-separated attributes with
# plain names, values quoted ("..."/'...', any chars but the quote) or
# bare. A bare value is PRINTABLE ASCII ONLY (0x21-0x7E minus '>', not
# starting with a quote): '=' '<' '`' ',' '/' are consumed greedily
# exactly like html.parser's [^>\s]*, so '<p a=1/>' is a plain start tag
# with value '1/' on both sides and query-string URLs (href=/p?a=1&b=2)
# stay fast, while '/>' after a quoted value, a bare attr NAME, or the
# tag name is a true XHTML self-close on both sides. Control and
# non-ASCII chars in bare values must fall back: html.parser's [^>\s]
# is unicode-\s-aware, so '\x0b'/'\x85'/'\xa0' end the value there
# ('<noscript a=b\x0b/>' is a SELF-CLOSE to the reference) while an
# ASCII-blind charset would read a plain start tag.
_ATTRS = (
    r"(?:[ \t\n\r\f]++[a-zA-Z_:][-.a-zA-Z0-9_:]*+"
    r"(?:[ \t\n\r\f]*+=[ \t\n\r\f]*+"
    r"(?:\"[^\"]*+\"|'[^']*+'|[!#-&(-=?-~][!-=?-~]*+))?+)*+"
)


def _rawtext(name: str) -> str:
    r"""A script/style start tag (any ASCII case, not self-closed) and its
    raw text, which html.parser's CDATA mode drops up to the first
    case-insensitive r'</\s*name\s*>'. The body stops at the first
    r'</\s*name' in any case. Only a literal lowercase close there is
    consumed, into the alternative's group; anything else swallows the
    rest of the document, so the token carries no group and falls
    back."""
    return (
        rf"<(?ai:{name}){_ATTRS}[ \t\n\r\f]*+>"
        rf"(?:[^<]++|<(?!/\s*(?i:{name})))*+"
        rf"(?:(</{name}\s*+>)|(?s:.*))"
    )


# Every construct the fast path cannot reproduce (a start or end tag
# outside the subset, an unterminated comment, declaration or
# processing instruction, a marked section) ends in the catch-all,
# which swallows the rest of the document: findall tokenizes before
# the loop can raise, and a construct that failed and let the scan
# resume at the next '<' would make the whole pass quadratic.
_TOKEN_RE = _re.compile(
    r"(?:" + _rawtext("script") + "|" + _rawtext("style")
    + r"|<([a-zA-Z][-.a-zA-Z0-9:_]*+)" + _ATTRS + r"[ \t\n\r\f]*+(/?)>"
    # html.parser's endtagfind happy path, ASCII whitespace only
    r"|</[ \t\n\r\f]*+([a-zA-Z][-.a-zA-Z0-9:_]*+)[ \t\n\r\f]*+>"
    # dropped: comment (to _markupbase's commentclose r'--\s*>', unicode
    # \s, searched from '<!--' + 4), doctype or bogus comment (to the
    # first '>'), processing instruction (to the first '>')
    r"|(<!--(?s:.*?)--\s*+>|<!(?!--|\[)[^>]*+>|<\?[^>]*+>)"
    # goahead's bare-'<' branch: handle_data('<')
    r"|(<)(?![a-zA-Z/!?])"
    r"|<(?s:.*))"
    r"([^<]*+)"
)


def _fast_scan(raw: str) -> str:
    """The fast path: one ``_TOKEN_RE.findall`` pass over the document,
    then a loop over its tokens that applies the skip and block rules.
    Each handled construct yields the same events at the same offsets
    as the reference's tolerant grammar. Character references are
    decoded per data segment, exactly like html.parser's
    convert_charrefs, never across a tag boundary. A token outside the
    grammar raises ``_Fallback``."""
    lines: list[str] = []
    cur: list[str] = []
    skip = 0
    lt = raw.find("<")
    head = raw if lt < 0 else raw[:lt]
    if head:
        cur.append(_unescape(head) if "&" in head else head)
    for script, style, name, slash, end, drop, bare, data in (
        _TOKEN_RE.findall(raw, lt) if lt >= 0 else ()
    ):
        if name:
            name = name.lower()
            if name in _BLOCK_TAGS and cur:
                lines.append("".join(cur))
                cur = []
            if not slash and name in _SKIP_TAGS:
                skip += 1
        elif end:
            end = end.lower()
            if skip and end in _SKIP_TAGS:
                skip -= 1
            if end in _BLOCK_TAGS and cur:
                lines.append("".join(cur))
                cur = []
        elif bare:
            if not skip:
                cur.append(bare)
        elif not (script or style or drop):
            raise _Fallback("construct outside the fast-path grammar")
        if data and not skip:
            cur.append(_unescape(data) if "&" in data else data)
    if cur:
        lines.append("".join(cur))
    out: list[str] = []
    for line in lines:
        collapsed = " ".join(line.split())
        if collapsed:
            out.append(collapsed)
    return "\n".join(out)


def _extract(html: bytes | bytearray | memoryview | None) -> tuple[str, bool]:
    """``(text, fell_back)``: the text of ``extract_text`` and whether
    the document took the reference parser."""
    if html is None:
        return "", False
    try:
        return _fast_scan(bytes(html).decode("utf-8", errors="replace")), False
    except _Fallback:
        return extract_text_reference(html), True


def extract_text(html: bytes | bytearray | memoryview | None) -> str:
    """html bytes -> canonical text, byte-identical to
    ``extract_text_reference`` (the frozen v1 semantics).

    Fast path: ``_fast_scan``, one compiled token regex over the
    document plus a short loop over its tokens. It handles tags with
    plain attributes, comments, declarations, processing instructions,
    script/style raw text with a literal lowercase close, bare '<' and
    character references. Any other construct (a tag outside the
    attribute grammar, a non-literal raw-text close, a marked section,
    an unterminated construct) raises ``_Fallback`` and the document
    takes the reference parser instead, so exotic inputs can never
    silently diverge from v1. The equivalence is differential-tested
    over the synthetic corpus and adversarial cases
    (tests/test_extract.py, scripts/fuzz_extract.py)."""
    return _extract(html)[0]
