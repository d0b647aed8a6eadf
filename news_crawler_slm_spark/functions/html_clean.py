"""clean_html — the flagship per-row extraction function, reimplemented from
scratch on the stdlib.

Reference semantics (/root/reference/data_ops/step_03_clean_html.py:10-74):

1. Parse HTML (bs4 ``html.parser`` treebuilder there; here one pass of a
   strict tokenizer, or of stdlib ``html.parser.HTMLParser`` when the strict
   one refuses the input — bs4/lxml are not available offline, SURVEY.md
   §7.3.1). No tree is built: tokens stream into one emitter.
2. Remove tags + content for: link style svg a nav img figure ins iframe
   tickaroo-liveblog astro-island (:15-27, :30-31).
3. Remove every ``<script>`` whose ``type`` attr (lowercased) does not contain
   ``application/ld+json`` (:34-37).
4. Remove ``div``/``section`` whose class contains any of
   {ad, advertisement, sponsored} as a *case-insensitive substring* — note
   ``class="radar"`` matches via "ad" (:40-43) — and whose id contains
   {ad, sponsored} (:45-46).
5. Delete all inline ``style`` attributes (:49-50).
6. For each HTML comment: regex-strip the step-2 tags (full pair then
   open/self-closing) inside the comment text (:53-63). Because ``re.sub``
   returns a plain ``str`` (verified: never the original Comment object), the
   reference's ``comment.replace_with(modified)`` *always* converts a
   surviving comment into a plain text node; comments that strip to blank are
   removed entirely (:65-69). No comment survives as a comment.
7. Re-serialize with ``soup.prettify()`` and ``.strip()`` (:72-74). The
   emitter writes each prettify line as its token arrives, indented by the
   number of open elements.

Byte-identity contract (BASELINE.json ``metric``/``input_hint``): this module
is the *single* implementation used by both the sequential oracle path and the
distributed Arrow-UDF path; committed golden files (tests/golden/) pin the
exact bytes, and pytest asserts the distributed output is byte-identical per
url at any parallelism.

Prettify format (canonical for this engine, bs4-compatible in structure):
one node per line, indented one space per depth level, text nodes
edge-stripped, minimal entity escaping (&, <, > in text; &, " in attributes),
void elements serialized as ``<name .../>``.
"""

from __future__ import annotations

import re
from html import escape as _html_escape
from html import unescape as _unescape
from html.parser import HTMLParser

TAGS_TO_REMOVE = (
    "link",
    "style",
    "svg",
    "a",
    "nav",
    "img",
    "figure",
    "ins",
    "iframe",
    "tickaroo-liveblog",
    "astro-island",
)
_REMOVED_TAGS = frozenset(TAGS_TO_REMOVE)

_AD_CLASS_MARKERS = ("ad", "advertisement", "sponsored")
_AD_ID_MARKERS = ("ad", "sponsored")

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Text directly under these is written unescaped.
_RAW_TEXT_ELEMENTS = frozenset({"script", "style", "pre", "textarea"})

# Precompiled comment-cleaning regexes, in the reference's exact order:
# per tag, full pair first, then open/self-closing (step_03:57-63).
_COMMENT_PATTERNS: list[re.Pattern[str]] = []
for _tag in TAGS_TO_REMOVE:
    _COMMENT_PATTERNS.append(re.compile(rf"<{_tag}[^>]*>.*?</{_tag}>", re.DOTALL))
    _COMMENT_PATTERNS.append(re.compile(rf"<{_tag}[^>]*/?>", re.DOTALL))


# --------------------------------------------------------------------------
# Removal rules (steps 2-4) — each decided from the start tag alone
# --------------------------------------------------------------------------

def _attr(attrs: list[tuple[str, str | None]], key: str) -> str | None:
    """First value of ``key`` ("" for a bare attribute), None if absent."""
    for k, v in attrs:
        if k == key:
            return v if v is not None else ""
    return None


def _matches_marker(value: str | None, markers: tuple[str, ...]) -> bool:
    if not value:
        return False
    low = value.lower()
    return any(m in low for m in markers)


def _removed(tag: str, attrs: list[tuple[str, str | None]]) -> bool:
    if tag in _REMOVED_TAGS:  # unwanted tags + content (step_03:30-31)
        return True
    if tag == "script":  # JS scripts, keep ld+json (step_03:34-37)
        return "application/ld+json" not in (_attr(attrs, "type") or "").lower()
    if tag == "div" or tag == "section":  # ad class/id markers (step_03:40-46)
        return _matches_marker(_attr(attrs, "class"), _AD_CLASS_MARKERS) or _matches_marker(
            _attr(attrs, "id"), _AD_ID_MARKERS
        )
    return False


def _escape_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;")


# --------------------------------------------------------------------------
# The emitter: removal, comment rewriting and prettify in one pass
# --------------------------------------------------------------------------
#
# Equivalence with the reference's parse → find_all+decompose → prettify:
# a removed element's subtree is dropped whole, so everything opened under it
# is dead; every rule is node-local, so surviving nodes are exactly the ones
# with no removed ancestor; and prettify's pre-order is token order, with an
# element's depth equal to the number of elements open at its start tag.

class _Emitter:
    __slots__ = ("out", "names", "live")

    def __init__(self) -> None:
        self.out: list[str] = []  # prettify lines
        self.names: list[str] = []  # open element names, outermost first
        # names[:live] are kept; names[live:] sit under a removed element
        self.live = 0

    def start(self, tag: str, attrs: list[tuple[str, str | None]], void: bool) -> None:
        names = self.names
        depth = len(names)
        if depth == self.live and not _removed(tag, attrs):
            # inline styles dropped (step_03:49-50)
            attr_s = "".join(
                [f' {k}="{_escape_attr(v or "")}"' for k, v in attrs if k != "style"]
            )
            if void:
                self.out.append(f"{' ' * depth}<{tag}{attr_s}/>\n")
            else:
                self.out.append(f"{' ' * depth}<{tag}{attr_s}>\n")
                self.live = depth + 1
        if not void:
            names.append(tag)

    def end(self, tag: str) -> None:
        # Pop to the nearest matching open element; ignore unmatched closers
        # (html.parser treebuilder behavior for malformed input).
        names = self.names
        for k in range(len(names) - 1, -1, -1):
            if names[k] == tag:
                if k < self.live:
                    self._close(k)
                del names[k:]
                return

    def _close(self, k: int) -> None:
        """Write the close tags of live elements names[k:], innermost first."""
        names, append = self.names, self.out.append
        for d in range(self.live - 1, k - 1, -1):
            append(f"{' ' * d}</{names[d]}>\n")
        self.live = k

    def text(self, data: str) -> None:
        names = self.names
        depth = len(names)
        if depth == self.live:
            s = data.strip()
            if s:
                if not (depth and names[-1] in _RAW_TEXT_ELEMENTS):
                    s = _html_escape(s, quote=False)  # & < > only (minimal formatter)
                self.out.append(f"{' ' * depth}{s}\n")

    def comment(self, data: str) -> None:
        # strip removable tags inside the comment text; a surviving comment
        # is ALWAYS converted to a plain text node (re.sub yields str → bs4
        # replace_with makes a NavigableString); blank results vanish
        # (step_03:53-69)
        if len(self.names) == self.live:
            for pat in _COMMENT_PATTERNS:
                data = pat.sub("", data)
            self.text(data)

    def decl(self, data: str) -> None:
        """Doctype / markup declaration / PI, passed through verbatim."""
        depth = len(self.names)
        if depth == self.live:
            self.out.append(f"{' ' * depth}<!{data}>\n")

    def finish(self) -> str:
        self._close(0)  # end of input closes the rest
        return "".join(self.out).strip()


# --------------------------------------------------------------------------
# Tokenizers: strict fast scanner, stdlib fallback
# --------------------------------------------------------------------------
#
# The stdlib HTMLParser tokenizer is ~70% of a DOM build's per-page CPU (its
# tolerant-recovery regex pipeline runs several matches per tag). The fast
# scanner handles the COMMON constructs with one strict regex step each and
# raises _FastPathUnsupported on anything unusual (malformed tags, marked
# sections, unterminated comments/cdata, stray '/' between attrs, ...), in
# which case clean_html() discards its partial output and reruns the whole
# document through _StdlibFeed. Equivalence contract: for every input the
# fast path accepts, it emits the SAME token sequence as the stdlib parser
# (text chunk boundaries included — they are observable as prettify lines).
# Enforced by tests/test_html_clean.py::test_fast_scanner_* over the fixture
# corpus, adversarial fallback inputs, and a hypothesis fuzzer.

class _FastPathUnsupported(Exception):
    pass


_TAGNAME = r"[a-zA-Z][a-zA-Z0-9.:_-]*"
_ATTR_NAME = r"[a-zA-Z_:][-a-zA-Z0-9_:.]*"  # strict subset of tolerant
# optional value — mirrors stdlib attrfind_tolerant: '=+' separator, quoted,
# or (possibly EMPTY) unquoted not starting with a quote
_ATTR_VALUE = r"'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*"
_ATTR = re.compile(rf"\s+({_ATTR_NAME})(?:\s*=+\s*({_ATTR_VALUE}))?")
# A whole start tag in one match. The name and each attribute are atomic and
# the attribute run possessive, so the match never backtracks: it accepts
# exactly what greedily matching _ATTR at each position, then the tag end,
# accepts, and _ATTR.findall over group 2 yields those attributes again.
_START_TAG = re.compile(
    rf"<((?>{_TAGNAME}))((?>\s+{_ATTR_NAME}(?:\s*=+\s*(?:{_ATTR_VALUE}))?)*+)\s*(/?)>"
)
_ENDTAG = re.compile(rf"</\s*({_TAGNAME})\s*>")
_CDATA_CLOSE = {
    t: re.compile(rf"</\s*{t}", re.IGNORECASE) for t in ("script", "style")
}
# Same close pattern as _markupbase._commentclose: '--' + optional ws + '>'.
_COMMENT_CLOSE = re.compile(r"--\s*>")

_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _fast_feed(s: str, em: _Emitter) -> None:
    n = len(s)
    i = 0
    cdata: str | None = None  # inside <script>/<style> raw-text content
    # hot-loop locals (attribute lookups add up at ~8k tags/page)
    find = s.find
    starttag_match = _START_TAG.match
    attr_findall = _ATTR.findall
    endtag_match = _ENDTAG.match
    start, end, text = em.start, em.end, em.text

    while i < n:
        if cdata is not None:
            m = _CDATA_CLOSE[cdata].search(s, i)
            if m is None:
                raise _FastPathUnsupported("unterminated cdata element")
            text(s[i : m.start()])  # raw — no charref conversion
            tm = endtag_match(s, m.start())
            if tm is None or tm.group(1).lower() != cdata:
                raise _FastPathUnsupported("odd end tag in cdata")
            end(cdata)
            cdata = None
            i = tm.end()
            continue

        j = find("<", i)
        if j < 0:
            j = n
        if i < j:
            chunk = s[i:j]
            if "&" in chunk:
                chunk = _unescape(chunk)
            if not chunk.isspace():  # blank chunks write nothing; skip the call
                text(chunk)
        if j >= n:
            break
        i = j
        c = s[i + 1] if i + 1 < n else ""
        if c in _ASCII_LETTERS:
            tm = starttag_match(s, i)
            if tm is None:
                raise _FastPathUnsupported("malformed start tag")
            tag, attr_s, selfclose = tm.groups()
            tag = tag.lower()
            attrs: list[tuple[str, str | None]] = []
            if attr_s:
                for name, value in attr_findall(attr_s):  # '' for a bare name
                    if value[:1] in ('"', "'"):
                        value = value[1:-1]
                    if "&" in value:
                        value = _unescape(value)
                    attrs.append((name.lower(), value))
            if selfclose:  # '/>' → self-closing leaf (startendtag)
                start(tag, attrs, True)
            else:
                start(tag, attrs, tag in VOID_ELEMENTS)
                if tag == "script" or tag == "style":
                    cdata = tag
            i = tm.end()
        elif c == "/":
            tm = endtag_match(s, i)
            if tm is None:
                raise _FastPathUnsupported("malformed end tag")
            end(tm.group(1).lower())
            i = tm.end()
        elif s.startswith("<!--", i):
            # Stdlib _markupbase closes comments at r'--\s*>' (e.g. '-- >'),
            # not only at the literal '-->'; match it exactly or the fast
            # path diverges from the HTMLParser fallback on '<!-- a -- > b -->'.
            cm = _COMMENT_CLOSE.search(s, i + 4)
            if cm is None:
                raise _FastPathUnsupported("unterminated comment")
            em.comment(s[i + 4 : cm.start()])
            i = cm.end()
        elif c == "!":
            if s.startswith("<![", i):
                raise _FastPathUnsupported("marked section")
            if s[i : i + 9].lower() == "<!doctype":
                gt = s.find(">", i + 9)
                if gt < 0:
                    raise _FastPathUnsupported("unterminated doctype")
                em.decl(s[i + 2 : gt])
            else:  # bogus comment (parse_bogus_comment)
                gt = s.find(">", i + 2)
                if gt < 0:
                    raise _FastPathUnsupported("unterminated bogus comment")
                em.comment(s[i + 2 : gt])
            i = gt + 1
        elif c == "?":  # processing instruction
            gt = s.find(">", i + 2)
            if gt < 0:
                raise _FastPathUnsupported("unterminated pi")
            em.decl("?" + s[i + 2 : gt])
            i = gt + 1
        else:
            # '<' that opens nothing: stdlib emits it as its own data chunk
            text("<")
            i += 1


class _StdlibFeed(HTMLParser):
    """Tolerant tokenizer for what the fast scanner refuses. CDATA content
    elements (script/style) arrive via handle_data already; entity refs are
    unescaped by convert_charrefs=True (matching bs4's html.parser
    treebuilder default)."""

    def __init__(self, em: _Emitter) -> None:
        super().__init__(convert_charrefs=True)
        self.em = em

    def updatepos(self, i: int, j: int) -> int:
        # line/offset bookkeeping feeds only error messages we never emit;
        # ~6% of parse time for free (contract: return the new position j)
        return j

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self.em.start(tag, attrs, tag in VOID_ELEMENTS)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        self.em.start(tag, attrs, True)

    def handle_endtag(self, tag: str) -> None:
        self.em.end(tag)

    def handle_data(self, data: str) -> None:
        self.em.text(data)

    def handle_comment(self, data: str) -> None:
        self.em.comment(data)

    def handle_decl(self, decl: str) -> None:
        self.em.decl(decl)

    unknown_decl = handle_decl

    def handle_pi(self, data: str) -> None:
        self.em.decl("?" + data)

    def parse_marked_section(self, i: int, report: int = 1) -> int:
        # _markupbase raises AssertionError on '<![' followed by no name or an
        # unknown keyword ('<![<', '<![a<'); the HTML5 tokenizer reads that as
        # a bogus comment running to the next '>' or to the end of input.
        # Safe to consume to the end: the whole document is fed at once.
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            rawdata = self.rawdata
            gt = rawdata.find(">", i + 2)
            stop = gt if gt >= 0 else len(rawdata)
            self.handle_comment(rawdata[i + 2 : stop])
            return stop + 1 if gt >= 0 else stop


# --------------------------------------------------------------------------
# The clean transform
# --------------------------------------------------------------------------

def clean_html(html: str) -> str:
    """Reference-semantics HTML cleaner; returns prettified cleaned markup.

    Pure function of its input — safe to call from any partition at any
    parallelism; this is what the byte-identity invariant rides on.
    """
    em = _Emitter()
    try:
        _fast_feed(html, em)
    except _FastPathUnsupported:
        em = _Emitter()
        feed = _StdlibFeed(em)
        feed.feed(html)
        feed.close()
    return em.finish()
