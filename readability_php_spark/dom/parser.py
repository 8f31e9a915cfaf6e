"""Lenient HTML → DOM tree builder on the stdlib tokenizer.

The reference parses with libxml2's forgiving HTML mode
(``src/Readability.php:276``).  This environment has no libxml binding
(no lxml), so this module implements an HTML5-lite error-recovering tree
builder over ``html.parser.HTMLParser``:

- void elements never take children;
- implied end tags (``<p>`` closed by block starts, ``li`` by ``li``,
  ``dd/dt``, table cell/row/section closings, ``option``);
- stray end tags pop to the matching open element or are ignored;
- ``html``/``head``/``body`` synthesized lazily — crucially a document with
  *no* body content yields no ``<body>`` node, preserving the reference's
  "Invalid or incomplete HTML." guard for inputs like ``"<html>"``
  (``src/Readability.php:146-150``, ``test/ReadabilityTest.php:119-127``);
- character references decoded to text (the behavior of
  ``substituteEntities=true``, which the reference's own test harness forces —
  ``test/ReadabilityTest.php:27``);
- ``<script>``/``<style>`` contents kept as raw text (CDATA mode).

Tag and attribute names are lowercased (libxml HTML behavior).  Duplicate
attributes keep the first occurrence (libxml keeps the first).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Optional

from .node import Comment, Document, Element, Text

# Fast start-tag scanner (hot path — ~40% of kernel time is tokenization).
# Matches the common well-formed case in one pass; anything irregular falls
# back to the stdlib's tolerant parser, so error recovery is unchanged.
# tagname + (for the attr-less majority) the terminator, in ONE regex:
# group(2) is ''/'/' when `\s*/?>` follows the name directly (bare path),
# None when attributes (or junk) follow
_FAST_START = re.compile(r"([a-zA-Z][a-zA-Z0-9:._-]*)(?:\s*(/?)>)?")
# one regex call per attr-loop step: leading ws + (terminator | attr[=value]).
# Same name/value charclasses as the stdlib-tolerant subset used previously,
# so accepted/rejected inputs — and therefore stdlib-fallback behavior — are
# identical to the two-step (ws-skip + attr-match) version.
_FAST_ATTR_OR_END = re.compile(
    r"""\s*(?:(/?>)"""
    r"""|([^\s/=<>'"][^\s/=<>]*)"""
    r"""(?:\s*=\s*("[^"]*"|'[^']*'|[^\s<>"'`=]+))?)"""
)
_FAST_ENDTAG = re.compile(r"</([a-zA-Z][a-zA-Z0-9:._-]*)\s*>")

#: verbatim start-tag memo (see TreeBuilder.parse_starttag): raw bytes up
#: to the first '>' → (tag, attrs tuple, startend); cleared at entry cap
#: AND at a key-byte budget — keys run up to 4 KB, so an entry cap alone
#: would let an adversarial corpus of distinct near-4KB tags pin ~1 GB per
#: long-lived worker; the byte budget bounds worst-case resident memory at
#: tens of MB (values are the same order as their keys)
_TAG_CACHE: dict = {}
_TAG_CACHE_BYTES = 0
_TAG_CACHE_BYTE_CAP = 16 * 1024 * 1024


def _tag_cache_put(raw_tag: str, entry: tuple) -> None:
    global _TAG_CACHE_BYTES
    if len(_TAG_CACHE) >= 200_000 or _TAG_CACHE_BYTES >= _TAG_CACHE_BYTE_CAP:
        _TAG_CACHE.clear()
        _TAG_CACHE_BYTES = 0
    _TAG_CACHE[raw_tag] = entry
    # len() counts code points; non-ASCII keys occupy up to 4 bytes each
    # (both UTF-8 and PyUnicode storage), so charge the real byte size —
    # ASCII (the overwhelmingly common case) skips the encode
    _TAG_CACHE_BYTES += (
        len(raw_tag) if raw_tag.isascii() else len(raw_tag.encode())
    )

# Open-element stack depth cap: beyond this, new elements are inserted as
# leaves (immediately closed).  Bounds every stack scan on adversarial input.
MAX_OPEN_DEPTH = 512

VOID_ELEMENTS = frozenset(
    "area base basefont br col embed frame hr img input isindex keygen "
    "link meta param source track wbr".split()
)

HEAD_TAGS = frozenset("title base meta link style script noscript template".split())

# Start tags that implicitly close an open <p> (HTML5 §8.2.5 "in body").
P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
    "hr listing main menu nav ol p plaintext pre section summary table ul "
    "xmp li dd dt".split()
)

# Scope boundaries when searching the open stack for an element to imply-close.
SCOPE_BOUNDARY = frozenset(
    "html body table td th caption applet object template marquee".split()
)

# tag → set of open tags it implicitly closes (popped one at a time while the
# stack top is in the set).
SAME_LEVEL_CLOSERS = {
    "li": frozenset(["li"]),
    "dd": frozenset(["dd", "dt"]),
    "dt": frozenset(["dd", "dt"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "thead": frozenset(["tr", "td", "th", "tbody", "tfoot", "thead", "caption", "colgroup"]),
    "tbody": frozenset(["tr", "td", "th", "tbody", "tfoot", "thead", "caption", "colgroup"]),
    "tfoot": frozenset(["tr", "td", "th", "tbody", "tfoot", "thead", "caption", "colgroup"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "a": frozenset(["a"]),
    "button": frozenset(["button"]),
}

# Tags whose implied close only fires on DIRECT nesting (stack top), never a
# deep scan: libxml auto-closes `<a><a>` but keeps `<a><div><a>` nested
# (verified against the cnn golden — a deep scan pops the wrapper div and
# corrupts the ancestor chain).
SHALLOW_CLOSERS = frozenset(["a", "button", "option", "optgroup"])

# Start tags for which _imply_end_tags can do anything at all: the
# same-level closers, plus (only while a <p> is open — checked at the call
# site) the p-closing blocks.  Everything else (span, em, img, br, …the
# inline majority) skips the call entirely — pure short-circuit, the
# function body's first two lookups would no-op for exactly these tags.
IMPLY_RELEVANT = frozenset(SAME_LEVEL_CLOSERS)

# libxml2's areBlanks() PCDATA whitelist (htmlparser.c, public libxml2
# source): a whitespace-only text node that is immediately followed by a tag
# is DROPPED unless the node before it is text or one of these elements.
# This is why the reference's golden files show `</a> <a` (kept) but collapse
# `<br/> <br/>` (dropped) — we replicate it for parse parity.
# (elements with %inline/PCDATA content models; list/table containers —
# ul ol dl dir menu map — take only element children in the HTML4 DTD and
# are NOT here, verified against the reference goldens: whitespace after
# </ul> is dropped, after </div> kept)
ALLOW_PCDATA = frozenset(
    "a abbr acronym address applet b bdo big blockquote body button caption "
    "center cite code dd del dfn div dt em font form h1 h2 h3 h4 h5 "
    "h6 i iframe ins kbd label legend li noframes noscript object "
    "p pre q s samp small span strike strong td textarea th tt "
    "u var".split()
)

# When imply-closing <li>/<dd>/<dt>/table parts, don't pop past these.
LIST_SCOPE_STOP = {
    "li": frozenset(["ul", "ol", "menu", "dir", "table", "td", "th", "body", "html"]),
    "dd": frozenset(["dl", "table", "td", "th", "body", "html"]),
    "dt": frozenset(["dl", "table", "td", "th", "body", "html"]),
    "tr": frozenset(["table", "tbody", "thead", "tfoot"]),
    "td": frozenset(["table", "tr", "tbody", "thead", "tfoot"]),
    "th": frozenset(["table", "tr", "tbody", "thead", "tfoot"]),
}


class TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.doc = Document()
        self.html: Optional[Element] = None
        self.head: Optional[Element] = None
        self.body: Optional[Element] = None
        self.stack: list[Element] = []  # open elements strictly below body/head
        # deferred whitespace-only text node: (parent, data). Decided at the
        # next event per libxml's areBlanks() (see ALLOW_PCDATA).
        self._pending_ws: Optional[tuple[Element, str]] = None
        self._html4_external_dtd = False
        # count of open <p> elements: lets the per-start-tag p-closure scan
        # short-circuit, keeping parse O(n) on pathological deep nesting
        self._open_p = 0
        # after an explicit </body>, blank text is in html context → dropped
        self._body_closed = False

    def updatepos(self, i, j):
        # line/column tracking is only used for error positions, which we
        # never read — ~10% of tokenizer time on large pages
        return j

    def parse_starttag(self, i):
        """Lean replacement for the stdlib start-tag parser.  Handles the
        well-formed fast path; defers to the stdlib tolerant parser on
        anything unusual (mismatched quotes, junk, EOF truncation) so
        recovery behavior — and therefore golden parity — is identical.

        Verbatim-tag memo: template markup repeats whole start tags
        thousands of times (`<div class="x">`…).  When a previous parse of
        the IDENTICAL byte slice up to the first '>' consumed exactly that
        slice, its (tag, attrs, startend) outcome is replayed — a pure
        memoization, since the parse outcome is a function of the consumed
        bytes alone.  Tags whose parse ran past the first '>' (quoted '>'
        in an attribute) or fell back to the stdlib parser are never
        cached."""
        rawdata = self.rawdata
        gt = rawdata.find(">", i + 1)
        raw_tag = None
        # short tags parse faster than they hash — memo only the long,
        # attribute-heavy ones where the regex loop dominates.  The upper
        # bound caps per-ENTRY memory: without it, adversarial pages
        # emitting distinct multi-hundred-KB start tags (huge data-/style
        # attributes) could pin ~entry_cap x tag_size bytes before the
        # clear-at-cap fires (same spirit as MAX_OPEN_DEPTH below).
        if gt >= 0 and 24 <= gt - i <= 4096:
            raw_tag = rawdata[i : gt + 1]
            hit = _TAG_CACHE.get(raw_tag)
            if hit is not None:
                tag, cattrs, startend, cdict = hit
                self.lasttag = tag
                # the cached attrs tuple is passed as-is (no list() copy):
                # our handlers only ever iterate attrs (_merge_attrs) —
                # nothing mutates the sequence
                if startend:
                    self.handle_startendtag(tag, cattrs, attrs_dict=cdict)
                else:
                    self.handle_starttag(tag, cattrs, attrs_dict=cdict)
                    if tag in self.CDATA_CONTENT_ELEMENTS:
                        self.set_cdata_mode(tag)
                return gt + 1
        m = _FAST_START.match(rawdata, i + 1)
        if m is None:
            return super().parse_starttag(i)
        tag, term = m.group(1, 2)
        if term is not None:  # bare tag: terminator right after name
            tag = tag.lower()
            end = m.end()  # match() anchored at i+1 → end is absolute
            if raw_tag is not None and end == gt + 1:
                _tag_cache_put(raw_tag, (tag, (), bool(term), {}))
            self.lasttag = tag
            if term:
                self.handle_startendtag(tag, [])
            else:
                self.handle_starttag(tag, [])
                if tag in self.CDATA_CONTENT_ELEMENTS:
                    self.set_cdata_mode(tag)
            return end
        j = m.end(1)  # leave the whitespace for the attr-loop regex
        attrs = []
        attr_match = _FAST_ATTR_OR_END.match
        while True:
            am = attr_match(rawdata, j)
            if am is None:
                # junk (`/x`, quote-first, `<`) or truncated buffer —
                # stdlib tolerant parser decides, exactly as before
                return super().parse_starttag(i)
            end_tok, name, value = am.group(1, 2, 3)
            j = am.end()
            if end_tok is not None:
                startend = end_tok == "/>"
                break
            if value is not None:
                if value[0] in "\"'":
                    value = value[1:-1]
                if "&" in value:
                    value = unescape(value)
            attrs.append((name.lower(), value))
        tag = tag.lower()
        if raw_tag is not None and j == gt + 1:
            # precompute the merged attr dict once per verbatim tag: the
            # first-wins + bool-minimization result _merge_attrs would
            # produce into an EMPTY element (the generic-element case)
            d: dict = {}
            for n, v in attrs:
                if n not in d:
                    d[n] = v if v is not None else n
            _tag_cache_put(raw_tag, (tag, tuple(attrs), startend, d))
        self.lasttag = tag
        if startend:
            self.handle_startendtag(tag, attrs)
        else:
            self.handle_starttag(tag, attrs)
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)
        return j

    def goahead(self, end):
        """Lean tokenizer loop.  The stdlib loop pays updatepos bookkeeping,
        charref-boundary buffering, and repeated method lookups per tag;
        this engine always feeds whole documents (parse_html does one feed +
        close), so end-of-buffer semantics are those of end=1.  All tag-body
        parsing still goes through parse_starttag/parse_endtag/
        parse_comment/parse_html_declaration — recovery identical."""
        rawdata = self.rawdata
        i, n = 0, len(rawdata)
        handle_data = self.handle_data
        while i < n:
            if self.cdata_elem:
                match = self.interesting.search(rawdata, i)
                if match is None:
                    break  # unterminated CDATA: stdlib buffers it too
                j = match.start()
                if i < j:
                    handle_data(rawdata[i:j])
            else:
                j = rawdata.find("<", i)
                if j < 0:
                    j = n
                if i < j:
                    chunk = rawdata[i:j]
                    handle_data(unescape(chunk) if "&" in chunk else chunk)
            i = j
            if i == n:
                break
            nxt = rawdata[i + 1 : i + 2]
            if ("a" <= nxt <= "z") or ("A" <= nxt <= "Z"):
                k = self.parse_starttag(i)
            elif nxt == "/":
                k = self.parse_endtag(i)
            elif nxt == "!":
                if rawdata.startswith("<!--", i):
                    k = self.parse_comment(i)
                else:
                    k = self.parse_html_declaration(i)
            elif nxt == "?":
                k = self.parse_pi(i)
            else:
                handle_data("<")
                k = i + 1
            if k < 0:
                # malformed/truncated construct: stdlib end-of-stream recovery
                k = rawdata.find(">", i + 1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                handle_data(rawdata[i:k])
            i = k
        self.rawdata = rawdata[i:]

    def parse_endtag(self, i):
        if self.cdata_elem is not None:
            # inside <script>/<style>: the stdlib path validates the tag and
            # clears CDATA mode — don't shortcut it
            return super().parse_endtag(i)
        m = _FAST_ENDTAG.match(self.rawdata, i)
        if m is None:
            return super().parse_endtag(i)
        self.handle_endtag(m.group(1).lower())
        return m.end()

    # --- libxml areBlanks() replica ----------------------------------------
    def _flush_pending_ws(self, next_is_close_tag: Optional[bool]) -> None:
        """``next_is_close_tag``: True for ``</``, False for any other ``<…``
        event, None for EOF/literal-text (libxml: CUR==0 → drop; CUR!='<' →
        keep, but at EOF only the drop case arises)."""
        if self._pending_ws is None:
            return
        parent, data = self._pending_ws
        self._pending_ws = None
        if next_is_close_tag is None:
            return  # EOF: blanks dropped (areBlanks: CUR==0 → 1)
        if not self._ws_kept(parent, next_is_close_tag):
            return
        last = parent.last_child
        if last is not None and last.node_type == 3:
            last.data += data
        else:
            parent.append_child(Text(data))

    def _ws_kept(self, parent: Element, next_is_close_tag: bool) -> bool:
        tag = parent.tag
        if tag in ("html", "head"):
            return False
        if tag == "body" and self._html4_external_dtd:
            return False
        if parent.first_child is None:
            # leading blanks kept only inside elements whose content model
            # allows PCDATA (verified against goldens: '<td> <x' keeps,
            # '<ul> <li' and '<article> <h1' drop)
            return tag in ALLOW_PCDATA
        last = parent.last_child
        while last is not None and last.node_type == 8:  # skip comments
            last = last.prev
        if last is None:
            return tag in ALLOW_PCDATA
        if last.node_type == 3:
            return True
        if last.node_type == 1:
            return last.tag in ALLOW_PCDATA
        return False

    # --- structure helpers ------------------------------------------------
    def _ensure_html(self) -> Element:
        if self.html is None:
            self.html = Element("html")
            self.doc.append_child(self.html)
        return self.html

    def _ensure_head(self) -> Element:
        if self.head is None:
            html = self._ensure_html()
            self.head = Element("head")
            # head goes before body if body already exists
            html.insert_before(self.head, self.body)
        return self.head

    def _ensure_body(self) -> Element:
        if self.body is None:
            html = self._ensure_html()
            self.body = Element("body")
            html.append_child(self.body)
        return self.body

    def _insertion_parent(self, for_tag: Optional[str] = None) -> Element:
        if self.stack:
            return self.stack[-1]
        if self.body is None and for_tag in HEAD_TAGS:
            return self._ensure_head()
        return self._ensure_body()

    def _merge_attrs(self, el: Element, attrs) -> None:
        for name, value in attrs:
            if name not in el.attrs:
                # SGML boolean-attribute minimization: <td nowrap> →
                # nowrap="nowrap" (libxml behavior, visible in the goldens)
                el.attrs[name] = value if value is not None else name

    def _pop_to_inclusive(self, idx: int) -> None:
        if self._open_p:
            self._open_p -= sum(1 for e in self.stack[idx:] if e.tag == "p")
        del self.stack[idx:]

    def _imply_end_tags(self, tag: str) -> None:
        # Same-level closers: find the nearest open sibling-level element
        # (li closes li, td closes td/th, ...) without crossing that tag's
        # scope stops, and pop through it — implied end tags for anything
        # (e.g. <b>) left open in between.
        closers = SAME_LEVEL_CLOSERS.get(tag)
        if closers and tag in SHALLOW_CLOSERS:
            if self.stack and self.stack[-1].tag in closers:
                self._pop_to_inclusive(len(self.stack) - 1)
            closers = None
        if closers:
            # Tags with a crafted stop list use only it (the generic scope
            # boundary contains td/th, which table-structure tags must be
            # able to pop through).
            stops = LIST_SCOPE_STOP.get(tag) or SCOPE_BOUNDARY
            match = -1
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t in stops and t not in closers:
                    break
                if t in closers:
                    # keep scanning: pop through the OUTERMOST sibling-level
                    # element before the scope stop (a new <tr> must close
                    # the open <tr> including its open <td>)
                    match = i
            if match >= 0:
                self._pop_to_inclusive(match)
        # <p> closure by block-level starts (counter short-circuits the scan:
        # keeps parsing O(n) on pathological 100k-deep nesting)
        if self._open_p and tag in P_CLOSERS:
            for i in range(len(self.stack) - 1, -1, -1):
                t = self.stack[i].tag
                if t in SCOPE_BOUNDARY:
                    break
                if t == "p":
                    self._pop_to_inclusive(i)
                    break

    # --- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag, attrs, attrs_dict=None):
        # attrs_dict: verbatim-tag-memo fast path — the first-wins merged
        # dict for a FRESH element; html/head/body merge into an existing
        # element and always take the list path
        if self._pending_ws is not None:  # inlined guard: hot path
            self._flush_pending_ws(False)
        if tag == "html":
            # libxml discards a misplaced/duplicate <html> tag entirely —
            # including its attributes (htmlParseStartTag "misplaced <html>
            # tag"); HTML5 would merge attrs, libxml does not.
            if self.html is None:
                self._merge_attrs(self._ensure_html(), attrs)
            return
        if tag == "head":
            # libxml discards <head> once body content has started.
            if self.head is None and self.body is None:
                self._merge_attrs(self._ensure_head(), attrs)
            return
        if tag == "body":
            # libxml discards a <body> tag when body is already open (e.g.
            # content before <head> implied an attribute-less body) — the
            # real tag's attributes (class/dir/...) are dropped, not merged.
            if self.body is None:
                self._merge_attrs(self._ensure_body(), attrs)
            return
        if tag in IMPLY_RELEVANT or (self._open_p and tag in P_CLOSERS):
            self._imply_end_tags(tag)
        el = Element(tag)
        if attrs_dict is not None:
            if attrs_dict:
                el.attrs = dict(attrs_dict)
        elif attrs:
            self._merge_attrs(el, attrs)
        self._insertion_parent(tag).append_child(el)
        if tag not in VOID_ELEMENTS and len(self.stack) < MAX_OPEN_DEPTH:
            # past the cap, elements are inserted but treated as immediately
            # closed (libxml similarly bounds depth); keeps every per-tag
            # stack scan O(MAX_OPEN_DEPTH) on adversarial nesting
            self.stack.append(el)
            if tag == "p":
                self._open_p += 1

    def handle_startendtag(self, tag, attrs, attrs_dict=None):
        if self._pending_ws is not None:  # inlined guard: hot path
            self._flush_pending_ws(False)
        if tag in ("html", "head", "body"):
            self.handle_starttag(tag, attrs)
            return
        if tag in IMPLY_RELEVANT or (self._open_p and tag in P_CLOSERS):
            self._imply_end_tags(tag)
        el = Element(tag)
        if attrs_dict is not None:
            if attrs_dict:
                el.attrs = dict(attrs_dict)
        elif attrs:
            self._merge_attrs(el, attrs)
        self._insertion_parent(tag).append_child(el)
        # <div/> in text/html is an OPEN tag per HTML5; libxml treats it as
        # empty. We follow libxml (reference parser) and keep it childless.

    def handle_endtag(self, tag):
        if self._pending_ws is not None:  # inlined guard: hot path
            self._flush_pending_ws(True)
        if tag in VOID_ELEMENTS:
            return
        if tag in ("body", "html", "head"):
            self.stack.clear()
            self._open_p = 0
            if tag == "body":
                self._body_closed = True
            return
        if tag == "p" and not self._open_p:
            # </p> with no open <p> creates an empty paragraph (HTML5)
            self._insertion_parent(tag).append_child(Element("p"))
            return
        stack = self.stack
        if stack and stack[-1].tag == tag:
            # well-formed fast path (the overwhelming majority of end
            # tags close the top of stack): same outcome as
            # _pop_to_inclusive(len-1), without the reverse scan,
            # slice-del, or slice p-count
            stack.pop()
            if tag == "p":
                self._open_p -= 1
            return
        for i in range(len(stack) - 1, -1, -1):
            if stack[i].tag == tag:
                self._pop_to_inclusive(i)
                return
        # unmatched end tag: ignored

    def handle_data(self, data):
        if not data:
            return
        if self._pending_ws is not None:
            # consecutive data callbacks: the '<' that flushed the buffer was
            # literal text → libxml keeps the blanks (CUR != '<')
            parent, pending = self._pending_ws
            self._pending_ws = None
            last = parent.last_child
            if last is not None and last.node_type == 3:
                last.data += pending
            else:
                parent.append_child(Text(pending))
        if self.stack:
            parent = self.stack[-1]
        elif self.body is not None:
            parent = self.body
        else:
            if data.strip() == "":
                return  # ws in html/head context: dropped (libxml)
            parent = self._ensure_body()
        if data.strip() == "" and parent.tag not in ("script", "style",
                                                     "textarea", "pre"):
            if not self.stack and self._body_closed:
                return  # blank text after </body>: html context, dropped
            self._pending_ws = (parent, data)
            return
        last = parent.last_child
        if last is not None and last.node_type == 3:
            last.data += data  # merge adjacent text (libxml normalizes)
            from .node import _bump_epoch
            _bump_epoch()
        else:
            parent.append_child(Text(data))

    def handle_comment(self, data):
        self._flush_pending_ws(False)
        if self.stack:
            parent = self.stack[-1]
        elif self.body is not None:
            parent = self.body
        elif self.head is not None:
            parent = self.head
        elif self.html is not None:
            parent = self.html
        else:
            # libxml keeps comments that precede <html> at the document
            # level (they must not imply <html>/<body> — the real <html>
            # tag that follows still owns its attributes).
            parent = self.doc
        parent.append_child(Comment(data))

    def handle_decl(self, decl):
        self._flush_pending_ws(False)
        d = decl.lower()
        if "-//w3c//dtd html 4.01//en" in d or "-//w3c//dtd html 4//en" in d:
            self._html4_external_dtd = True

    def handle_pi(self, data):
        self._flush_pending_ws(False)

    def unknown_decl(self, data):
        self._flush_pending_ws(False)

    def close(self):
        super().close()
        self._flush_pending_ws(None)


def parse_html(html: str) -> Document:
    """Parse an HTML string into a Document. Never raises on malformed
    input — error recovery is the point (one bad row must not kill a
    10^12-row Spark job; the kernel maps failures to an ``error`` column)."""
    tb = TreeBuilder()
    try:
        tb.feed(html)
        tb.close()
    except Exception:
        # tokenizer blow-ups on pathological input: return what we built
        pass
    return tb.doc
