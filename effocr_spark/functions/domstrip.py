"""Main-content extraction from HTML (DOM-heuristic branch).

The north rule's born-digital twin of the OCR branch: strip boilerplate,
pick the highest-text-density / lowest-link-density container, emit
whitespace-normalized paragraphs. No reference analog exists (the
reference is OCR-only); semantics are pinned by this kernel, which is
shared between the Spark pandas UDF and the test oracle so byte-parity
is by construction (SURVEY.md §7.1 item 3).

Tokenizer. `_Extractor` is the stdlib's `html.parser.HTMLParser` with
its own `goahead` loop: the stdlib's loop, with its two phases (`feed`
stops at the first unterminated construct, `close` finishes the rest as
if followed by end of input) and the same events. In `feed`, two
constructs are answered by one compiled-regex match each:

- a start tag made of a name, whitespace-separated attributes (bare,
  quoted or simple unquoted values) and `>`; `script` and `style` enter
  CDATA mode as in the stdlib;
- an end tag `</name>` outside CDATA mode.

Everything else goes to the stdlib's own `parse_starttag`,
`parse_endtag`, `parse_comment`, `parse_pi` and
`parse_html_declaration`: `/>`, attributes glued to a quote, comments,
declarations, processing instructions, marked sections, every tag in
CDATA mode and anything the fast regexes miss. The fast path does not
parse attributes, since `_Extractor` never reads them. `updatepos` is a
no-op because nothing reads `getpos()`, and a text chunk is unescaped
only when it holds `&`. `tests/test_domstrip.py` checks the event
sequence against the running interpreter's `HTMLParser.goahead`.

Unterminated tails. The stdlib's `close` retries every `<` of a tail
that no `>` (or no `-->`) terminates, and each retry rescans the rest of
the input: `<a ` repeated to the end of a page took 11 s at 30 KB on
a 4-vCPU host, 4x more per doubling. `_Unterminated` predicts those "not terminated"
results without the rescans: from the position of the last `>`, the
first position with no comment close after it, and the start tag's
attribute run memoised by where each attribute begins. The prediction is
exact, so the events do not change; `close` is linear on such tails.

Pure stdlib (html.parser, re), deterministic, no I/O.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser, starttagopen

# subtrees dropped entirely
_SKIP_TAGS = {
    "script", "style", "noscript", "template", "svg", "head",
    "nav", "header", "footer", "aside", "form", "iframe", "button",
}
# elements that can be the main-content container
_CONTAINER_TAGS = {"main", "article", "body", "div", "section", "td"}
# elements that begin a new paragraph inside a container
_PARA_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre",
    "blockquote", "br", "tr", "dt", "dd", "div", "section", "article",
    "main", "td", "table", "ul", "ol",
}
_VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base",
              "col", "embed", "source", "track", "wbr"}

# The fast start tag. The name is the stdlib's (`tagfind_tolerant`),
# taken whole (the lookahead stops it giving characters back to `\s`,
# which also matches the vertical tab and Unicode spaces a name may
# hold), and must end at an ASCII space or `>`. Each attribute follows
# whitespace, its name holds no quote, `<` or `=`, and its unquoted value
# no quote, `=`, `<`, `>` or backtick. Each piece then ends where the
# stdlib's `locatestarttagend_tolerant` and `attrfind_tolerant` end it,
# so a match is a start tag `parse_starttag` would report with the same
# name and the same end.
_FAST_STARTTAG = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)(?=[\t\n\r\f >])"
    r"(?:\s+[^\s\"'<>/=]+"
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s\"'=<>`]+))?)*"
    r"\s*>")
# the stdlib's `endtagfind`: outside CDATA mode `parse_endtag` reports
# exactly this name and ends at this `>`
_FAST_ENDTAG = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")

# pieces of the stdlib's `locatestarttagend_tolerant`: the character
# that ends a tag name, the separator run after it, and one attribute
_TAGNAME_STOP = re.compile(r"[\t\n\r\f />\x00]")
_SPACE_SLASH = re.compile(r"[\s/]*")
_ATTR = re.compile(r"""
  (?<=['"\s/])[^\s/>][^\s/=>]*     # attribute name
  (?:\s*=+\s*                        # value indicator
    (?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*)
    \s*
  )?(?:\s|/(?!>))*
""", re.VERBOSE)
# `check_for_whole_start_tag`: the tag is still open if its attribute
# run stops at one of these (or at the end of the input)
_OPEN_AFTER_ATTRS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ=/")
# `_markupbase`'s comment close, declaration name and marked-section
# closes (standard keywords, then the MS Office ones)
_COMMENTCLOSE = re.compile(r"--\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_SECTION_CLOSE = dict.fromkeys(("temp", "cdata", "ignore", "include",
                                "rcdata"), re.compile(r"]\s*]\s*>"))
_SECTION_CLOSE.update(dict.fromkeys(("if", "else", "endif"),
                                    re.compile(r"]\s*>")))


class _Unterminated:
    """Predicts, for the markup at `<` position i of `close`'s input,
    whether the stdlib's `parse_*` method returns -1 ("not terminated").

    `close` calls it on the increasing positions of one pass. Each -1
    the stdlib returns there comes from a scan to the end of the input
    (or of a tag's attribute run), and a tail of such `<`s rescans the
    same text once per `<`. These predictions reuse what earlier calls
    scanned, so a pass costs time linear in the input. They are exact:
    True only where the stdlib method returns -1, and False wherever it
    would raise.
    """

    def __init__(self, rawdata: str):
        self.rawdata = rawdata
        self.last_gt = rawdata.rfind(">")
        self.absent: dict = {}      # close pattern → no match from here
        self.name_stop = 0          # end of the last tag name scanned
        self.attrs_from = -1        # ... and its attribute run
        self.attrs_to = -1
        self.attr_run: dict[int, int] = {}  # attribute start → run end

    def __call__(self, i: int) -> bool:
        rawdata = self.rawdata
        c = rawdata[i + 1]
        if c == "!":
            if rawdata.startswith("<!--", i):
                return self._no_match(_COMMENTCLOSE, i + 4)
            if rawdata.startswith("<![", i):
                # parse_marked_section: a name (else it raises), then
                # the close its keyword selects (unknown ones raise)
                m = _DECLNAME.match(rawdata, i + 3)
                if m is None:
                    return False
                if m.end() == len(rawdata):
                    return True
                close = _SECTION_CLOSE.get(m.group().strip().lower())
                return close is not None and self._no_match(close, i + 3)
            return self.last_gt < i + 2  # doctype, bogus comment
        if c == "/" or c == "?":
            return self.last_gt < i + 2  # parse_endtag, parse_pi
        return self._starttag_open(i)

    def _no_match(self, pattern, x: int) -> bool:
        # a pattern absent from x on is absent from any later position
        if x >= self.absent.get(pattern, len(self.rawdata) + 1):
            return True
        if pattern.search(self.rawdata, x):
            return False
        self.absent[pattern] = x
        return True

    def _starttag_open(self, i: int) -> bool:
        rawdata = self.rawdata
        # a name starting inside the last one scanned stops where it did
        if i >= self.name_stop:
            m = _TAGNAME_STOP.search(rawdata, i + 2)
            self.name_stop = m.start() if m else len(rawdata)
        e = self.name_stop
        if e != self.attrs_from:
            self.attrs_from = e
            self.attrs_to = self._attrs_end(_SPACE_SLASH.match(rawdata,
                                                               e).end())
        j = self.attrs_to
        nxt = rawdata[j:j + 1]
        if nxt == "/":
            return not rawdata.startswith("/>", j)
        return nxt == "" or nxt in _OPEN_AFTER_ATTRS

    def _attrs_end(self, x: int) -> int:
        # The attribute loop is greedy and nothing after it can fail,
        # so where a run from x ends depends on x alone: the end is
        # shared by every attribute start the run passes through.
        memo = self.attr_run
        chain = []
        while x not in memo:
            m = _ATTR.match(self.rawdata, x)
            if m is None:
                memo[x] = x
                break
            chain.append(x)
            x = m.end()
        end = memo[x]
        for y in chain:
            memo[y] = end
        return end


class _Container:
    __slots__ = ("order", "paras", "textlen", "linklen")

    def __init__(self, order: int):
        self.order = order
        self.paras: list[list[str]] = [[]]
        self.textlen = 0
        self.linklen = 0


class _Extractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.skip_depth = 0
        self.link_depth = 0
        self.containers: list[_Container] = []
        self.container_stack: list[_Container] = []
        self.tag_stack: list[str] = []
        self._order = 0

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "br" and self.container_stack and not self.skip_depth:
                self.container_stack[-1].paras.append([])
            return
        self.tag_stack.append(tag)
        if self.skip_depth or tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        if tag == "a":
            self.link_depth += 1
        if tag in _CONTAINER_TAGS:
            c = _Container(self._order)
            self._order += 1
            self.containers.append(c)
            self.container_stack.append(c)
        elif tag in _PARA_TAGS and self.container_stack:
            self.container_stack[-1].paras.append([])

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        # pop until the matching open tag (tolerates malformed nesting)
        while self.tag_stack:
            top = self.tag_stack.pop()
            self._close_one(top)
            if top == tag:
                break

    def _close_one(self, tag):
        if self.skip_depth:
            self.skip_depth -= 1
            return
        if tag == "a" and self.link_depth:
            self.link_depth -= 1
        if tag in _CONTAINER_TAGS and self.container_stack:
            self.container_stack.pop()
        elif tag in _PARA_TAGS and self.container_stack:
            self.container_stack[-1].paras.append([])

    def handle_data(self, data):
        if self.skip_depth or not self.container_stack:
            return
        n = len(data.strip())
        if not n:
            return
        # text accrues to every enclosing container; paragraphs only to
        # the innermost (so an outer div doesn't duplicate inner text in
        # its own paragraph list — but still competes on total text)
        self.container_stack[-1].paras[-1].append(data)
        for c in self.container_stack:
            c.textlen += n
            if self.link_depth:
                c.linklen += n

    def close(self):
        super().close()
        while self.tag_stack:
            self._close_one(self.tag_stack.pop())

    def updatepos(self, i, j):
        return j  # nothing reads getpos()

    def goahead(self, end):
        # `HTMLParser.goahead` with convert_charrefs=True, so text only
        # ever stops at `<`, plus the fast path (feed) and the
        # unterminated-tail predictions (close). close only sees what an
        # unterminated construct left, where a fast-regex miss could
        # rescan the tail at every `<`, so it takes the stdlib path. A
        # text run with no `<` after it is emitted at once: where the
        # stdlib holds it back in feed for a possible cut-off `&`, close
        # emits the same chunk.
        rawdata = self.rawdata
        i = 0
        n = len(rawdata)
        handle_data = self.handle_data
        unterminated = _Unterminated(rawdata) if end else None
        while i < n:
            cdata = self.cdata_elem
            if cdata is None:
                j = rawdata.find("<", i)
                if j < 0:
                    j = n
            else:
                m = self.interesting.search(rawdata, i)
                if m is None:
                    break
                j = m.start()
            if i < j:
                data = rawdata[i:j]
                handle_data(unescape(data) if cdata is None and "&" in data
                            else data)
                i = j
                if i == n:
                    break
            if not end and cdata is None:
                m = _FAST_STARTTAG.match(rawdata, i)
                if m is not None:
                    tag = m.group(1).lower()
                    self.handle_starttag(tag, ())
                    if tag in self.CDATA_CONTENT_ELEMENTS:
                        self.set_cdata_mode(tag)
                    i = m.end()
                    continue
                m = _FAST_ENDTAG.match(rawdata, i)
                if m is not None:
                    self.handle_endtag(m.group(1).lower())
                    i = m.end()
                    continue
            startswith = rawdata.startswith
            if starttagopen.match(rawdata, i):
                parse = self.parse_starttag
            elif startswith("</", i):
                parse = self.parse_endtag
            elif startswith("<!--", i):
                parse = self.parse_comment
            elif startswith("<?", i):
                parse = self.parse_pi
            elif startswith("<!", i):
                parse = self.parse_html_declaration
            elif i + 1 < n:
                handle_data("<")
                i += 1
                continue
            else:
                break
            k = -1 if end and unterminated(i) else parse(i)
            if k < 0:
                if not end:
                    break
                k = (rawdata.find(">", i + 1)
                     if unterminated.last_gt > i else -1)
                if k < 0:
                    k = rawdata.find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                data = rawdata[i:k]
                handle_data(unescape(data) if cdata is None and "&" in data
                            else data)
            i = k
        if end and i < n and self.cdata_elem is None:
            data = rawdata[i:n]
            handle_data(unescape(data) if "&" in data else data)
            i = n
        self.rawdata = rawdata[i:]


def _normalize_ws(s: str) -> str:
    return " ".join(s.split())


def strip_html(html: bytes | str) -> str:
    """HTML bytes/str → extracted main-content text.

    Paragraphs of the best-scoring container, whitespace-normalized,
    joined by '\\n'. Score = own-paragraph text × (1 − link density);
    ties go to earliest document order. Undecodable or empty input → "".
    """
    if isinstance(html, bytes):
        # transport encodings a WARC-derived corpus carries verbatim.
        # Decompression is CAPPED (a crafted gzip bomb in one page
        # must quarantine that page, never OOM the executor task).
        max_html = 256 << 20
        if html[:2] == b"\x1f\x8b":  # gzip body (Content-Encoding)
            import zlib as _zlib
            try:
                d = _zlib.decompressobj(wbits=31)
                html = d.decompress(html, max_html)
                if d.unconsumed_tail:
                    return ""  # expansion cap: quarantine-to-empty
            except Exception:
                return ""
        elif html[:1] == b"\x78" and html[1:2] in (b"\x01", b"\x9c",
                                                   b"\xda"):
            import zlib as _zlib
            try:
                d = _zlib.decompressobj()
                html = d.decompress(html, max_html)
                if d.unconsumed_tail:
                    return ""
            except Exception:
                return ""
        # charset: strict UTF-8 first; else an explicit charset=
        # declaration in the head; else cp1252 (the browser fallback
        # for legacy pages — utf-8-replace would garble them)
        try:
            html = html.decode("utf-8")
        except UnicodeDecodeError:
            import re as _re
            m = _re.search(rb"charset\s*=\s*[\"']?([A-Za-z0-9_-]+)",
                           html[:2048])
            enc = (m.group(1).decode("ascii", "ignore")
                   if m else "cp1252")
            try:
                html = html.decode(enc, errors="replace")
            except (LookupError, UnicodeDecodeError):
                html = html.decode("cp1252", errors="replace")
        except Exception:
            return ""
    parser = _Extractor()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    best = None
    best_score = -1.0
    for c in parser.containers:
        if c.textlen == 0:
            continue
        paras = [_normalize_ws(" ".join(p)) for p in c.paras if p]
        own = sum(map(len, paras))
        if own == 0:
            continue
        link_density = c.linklen / c.textlen
        score = own * (1.0 - link_density)
        if score > best_score:
            best_score = score
            best = paras
    if best is None:
        return ""
    return "\n".join(p for p in best if p)
