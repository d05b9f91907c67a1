"""Minimal HTML5-ish DOM tree built on the stdlib ``html.parser``.

The reference engine (rnb3ds/html) parses with Go's ``golang.org/x/net/html``,
a WHATWG HTML5 tree builder.  This container has no lxml/html5lib, so we build
a compact tree builder on :class:`html.parser.HTMLParser` that reproduces the
HTML5 behaviors the extraction semantics depend on (see SURVEY.md §7.4):

* lowercased tag/attribute names (``extract.go:439``; x/net/html lowercases)
* implied ``<html>``/``<head>``/``<body>`` structure
* head-content placement (``<title>``/``<meta>``/... before body go to head)
* void elements never take children
* implied end tags: ``<p>`` closed by block starts, ``li``/``dt``/``dd``/
  ``tr``/``td``/``th``/``option`` sibling closing
* ``<tbody>`` insertion for ``<tr>`` directly inside ``<table>``
* character references decoded into text (HTML5 semantics, matching Go's
  parser; Python's ``convert_charrefs`` implements the same WHATWG algorithm)
* adjacent text coalesced into a single text node
* first newline after ``<pre>``/``<textarea>``/``<listing>`` dropped

Node layout mirrors ``x/net/html.Node`` (doubly linked child list) so the
ported traversal code (helpers.go:398-465) translates directly.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

# Node types (mirror x/net/html NodeType)
DOCUMENT = 0
ELEMENT = 1
TEXT = 2
COMMENT = 3


class Node:
    """One DOM node; layout mirrors x/net/html.Node (types.go:21-46)."""

    __slots__ = (
        "type",
        "data",
        "attrs",
        "parent",
        "first_child",
        "last_child",
        "prev_sibling",
        "next_sibling",
    )

    def __init__(self, type_: int, data: str = "", attrs=None):
        self.type = type_
        self.data = data
        self.attrs = attrs if attrs is not None else []
        self.parent = None
        self.first_child = None
        self.last_child = None
        self.prev_sibling = None
        self.next_sibling = None

    # -- tree surgery -----------------------------------------------------
    def append_child(self, child: "Node") -> None:
        child.parent = self
        child.next_sibling = None
        last = self.last_child
        if last is None:
            self.first_child = child
            child.prev_sibling = None
        else:
            last.next_sibling = child
            child.prev_sibling = last
        self.last_child = child

    def insert_before(self, new: "Node", ref: "Node") -> None:
        """Insert ``new`` as a child of self immediately before ``ref``."""
        new.parent = self
        new.next_sibling = ref
        new.prev_sibling = ref.prev_sibling
        if ref.prev_sibling is None:
            self.first_child = new
        else:
            ref.prev_sibling.next_sibling = new
        ref.prev_sibling = new

    def remove_child(self, child: "Node") -> None:
        if child.prev_sibling is None:
            self.first_child = child.next_sibling
        else:
            child.prev_sibling.next_sibling = child.next_sibling
        if child.next_sibling is None:
            self.last_child = child.prev_sibling
        else:
            child.next_sibling.prev_sibling = child.prev_sibling
        child.parent = None
        child.prev_sibling = None
        child.next_sibling = None

    def attr(self, key: str) -> str | None:
        for k, v in self.attrs:
            if k == key:
                return v
        return None

    def __repr__(self):  # pragma: no cover - debug aid
        kind = {DOCUMENT: "doc", ELEMENT: "elem", TEXT: "text", COMMENT: "comment"}[self.type]
        return f"<Node {kind} {self.data[:30]!r}>"


VOID_ELEMENTS = frozenset(
    "area base basefont bgsound br col embed frame hr img input keygen link meta param source track wbr".split()
)

# Elements that belong in <head> before body content starts (HTML5 "in head").
HEAD_CONTENT = frozenset(
    "base basefont bgsound link meta title noframes style script template".split()
)

# Start tags that implicitly close an open <p> (HTML5 "in body" insertion mode).
P_CLOSERS = frozenset(
    (
        "address article aside blockquote center details dialog dir div dl "
        "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
        "hr listing main menu nav ol p plaintext pre section summary table ul"
    ).split()
)

# Elements that terminate button scope for the <p>-closing search.
BUTTON_SCOPE_BARRIERS = frozenset(
    "html table td th caption applet marquee object template button".split()
)

TABLE_SECTIONS = frozenset(("thead", "tbody", "tfoot"))

# implied-end-tag dispatch: (closers, stop) pairs hoisted to module level
# so handle_starttag does one dict lookup instead of an elif chain that
# re-built frozensets (and a set union) on every matching start tag
_LI_SET = frozenset(("li",))
_LIST_STOP = frozenset(("ul", "ol"))
_DTDD_SET = frozenset(("dt", "dd"))
_DL_STOP = frozenset(("dl",))
_TR_SET = frozenset(("tr",))
_TR_STOP = frozenset(("table",)) | TABLE_SECTIONS
_CELL_SET = frozenset(("td", "th"))
_OPTION_SET = frozenset(("option",))
_SELECT_STOP = frozenset(("select",))
_SECTIONISH = TABLE_SECTIONS | frozenset(("caption", "colgroup"))
_TABLE_STOP = frozenset(("table",))
_IMPLIED_END = {
    "li": (_LI_SET, _LIST_STOP),
    "dt": (_DTDD_SET, _DL_STOP),
    "dd": (_DTDD_SET, _DL_STOP),
    "tr": (_TR_SET, _TR_STOP),
    "td": (_CELL_SET, _TR_SET),
    "th": (_CELL_SET, _TR_SET),
    "option": (_OPTION_SET, _SELECT_STOP),
    "thead": (_SECTIONISH, _TABLE_STOP),
    "tbody": (_SECTIONISH, _TABLE_STOP),
    "tfoot": (_SECTIONISH, _TABLE_STOP),
    "caption": (_SECTIONISH, _TABLE_STOP),
    "colgroup": (_SECTIONISH, _TABLE_STOP),
}


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.doc = Node(DOCUMENT)
        self.html = None
        self.head = None
        self.body = None
        self.body_started = False
        self.stack: list[Node] = []  # open user elements (below html/head/body)

    # -- structure helpers -------------------------------------------------
    def _ensure_html(self, attrs=None):
        if self.html is None:
            self.html = Node(ELEMENT, "html", [])
            self.doc.append_child(self.html)
        if attrs:
            self._merge_attrs(self.html, attrs)
        return self.html

    def _ensure_head(self, attrs=None):
        self._ensure_html()
        if self.head is None:
            self.head = Node(ELEMENT, "head", [])
            self.html.append_child(self.head)
        if attrs:
            self._merge_attrs(self.head, attrs)
        return self.head

    def _ensure_body(self, attrs=None):
        self._ensure_html()
        self._ensure_head()
        if self.body is None:
            self.body = Node(ELEMENT, "body", [])
            self.html.append_child(self.body)
        if attrs:
            self._merge_attrs(self.body, attrs)
        self.body_started = True
        return self.body

    @staticmethod
    def _merge_attrs(node: Node, attrs):
        seen = {k for k, _ in node.attrs}
        for k, v in attrs:
            if k not in seen:
                node.attrs.append((k, v))
                seen.add(k)

    # -- implied end tags --------------------------------------------------
    def _close_p_in_button_scope(self):
        for i in range(len(self.stack) - 1, -1, -1):
            d = self.stack[i].data
            if d == "p":
                del self.stack[i:]
                return
            if d in BUTTON_SCOPE_BARRIERS:
                return

    def _close_siblings(self, closers: frozenset, stop: frozenset):
        """Pop open elements matching ``closers`` below the nearest ``stop``."""
        for i in range(len(self.stack) - 1, -1, -1):
            d = self.stack[i].data
            if d in closers:
                del self.stack[i:]
                return
            if d in stop:
                return

    # -- token handlers ----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        self.start_element(tag, _dedup_attrs(attrs))

    def start_element(self, tag, attrs):
        """A start tag whose ``attrs`` are already deduplicated, None -> ''."""
        if tag == "html":
            self._ensure_html(attrs)
            return
        if tag == "head":
            self._ensure_head(attrs)
            return
        if tag == "body":
            self._ensure_body(attrs)
            self.stack.clear()
            return

        # decide parent region
        if not self.body_started and tag in HEAD_CONTENT and not self.stack:
            parent = self._ensure_head()
        elif not self.stack:
            parent = self._ensure_body()
        else:
            parent = None  # computed below after implied end tags

        # implied end tags
        if tag in P_CLOSERS:
            self._close_p_in_button_scope()
        implied = _IMPLIED_END.get(tag)
        if implied is not None:
            self._close_siblings(*implied)

        if parent is None or tag in P_CLOSERS or self.stack:
            parent = self.stack[-1] if self.stack else (
                self._ensure_body() if self.body_started or tag not in HEAD_CONTENT else self._ensure_head()
            )

        # table fixups: implied tbody/tr (HTML5 "in table"/"in table body")
        if tag == "tr" and parent.type == ELEMENT and parent.data == "table":
            tbody = Node(ELEMENT, "tbody", [])
            parent.append_child(tbody)
            self.stack.append(tbody)
            parent = tbody
        elif tag in ("td", "th") and parent.type == ELEMENT and (
            parent.data == "table" or parent.data in TABLE_SECTIONS
        ):
            if parent.data == "table":
                tbody = Node(ELEMENT, "tbody", [])
                parent.append_child(tbody)
                self.stack.append(tbody)
                parent = tbody
            tr = Node(ELEMENT, "tr", [])
            parent.append_child(tr)
            self.stack.append(tr)
            parent = tr

        node = Node(ELEMENT, tag, attrs)
        parent.append_child(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        # HTML5 ignores the trailing slash: <div/> opens a div. Void elements
        # behave identically either way.
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        if tag == "body" or tag == "html":
            self.stack.clear()
            self.body_started = True
            return
        if tag == "head":
            return
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].data == tag:
                del self.stack[i:]
                return
        # no matching open element: ignore (HTML5 parse error recovery)

    def handle_data(self, data):
        if not data:
            return
        if self.stack:
            parent = self.stack[-1]
        elif self.body_started:
            parent = self._ensure_body()
        else:
            if data.strip("\t\n\r\f ") == "":
                return  # whitespace in head limbo is dropped
            parent = self._ensure_body()

        # table foster-parenting (approximate): character data directly inside
        # table structure elements moves before the table in HTML5.
        if parent.type == ELEMENT and (
            parent.data == "table" or parent.data in TABLE_SECTIONS or parent.data == "tr"
        ):
            if data.strip("\t\n\r\f ") == "":
                return
            table = parent
            while table is not None and table.data != "table":
                table = table.parent
            if table is not None and table.parent is not None:
                tp = table.parent
                prev = table.prev_sibling
                if prev is not None and prev.type == TEXT:
                    prev.data += data
                else:
                    tn = Node(TEXT, data)
                    tp.insert_before(tn, table)
                return

        # drop first newline after pre/textarea/listing (HTML5)
        if (
            parent.type == ELEMENT
            and parent.data in ("pre", "textarea", "listing")
            and parent.first_child is None
            and data.startswith("\n")
        ):
            data = data[1:]
            if not data:
                return

        last = parent.last_child
        if last is not None and last.type == TEXT:
            last.data += data
        else:
            parent.append_child(Node(TEXT, data))

    def handle_comment(self, data):
        if self.stack:
            self.stack[-1].append_child(Node(COMMENT, data))
        elif self.body_started:
            self._ensure_body().append_child(Node(COMMENT, data))
        elif self.html is not None:
            self._ensure_head().append_child(Node(COMMENT, data))
        else:
            self.doc.append_child(Node(COMMENT, data))

    def handle_decl(self, decl):
        pass  # doctype: not material to extraction

    def unknown_decl(self, data):
        pass


def _dedup_attrs(attrs):
    """Keep the first occurrence of each attribute name (HTML5), None -> ''. """
    if not attrs:
        return attrs
    if len(attrs) == 1:  # the dominant case: no dedup set needed
        k, v = attrs[0]
        return [(k, v if v is not None else "")]
    out = []
    seen = set()
    for k, v in attrs:
        if k in seen:
            continue
        seen.add(k)
        out.append((k, v if v is not None else ""))
    return out


# ---------------------------------------------------------------------------
# Fast tokenizer
# ---------------------------------------------------------------------------
# A single-pass tokenizer that builds the same tree as the handle_* calls
# stdlib html.parser would make (same tolerant regexes, same unescape
# semantics) but without the incremental-feed machinery, position tracking,
# and per-token dispatch overhead. The common tokens never reach a handler;
# the loop applies them inline:
#   * a start tag with an open element, other than html/head/body and the
#     table fixups' tr/td/th, closes what its implied end tags close, links
#     under the top of the stack and is pushed unless void;
#   * an end tag naming the top of the stack pops it;
#   * text under an open element other than table structure or
#     pre/textarea/listing joins a trailing text node or links a new one.
# Attributes are deduplicated in the attribute loop (first name wins,
# None -> '') and tag names lowered through one memo. Every other token
# goes through the _TreeBuilder handlers that html.parser drives, which
# stay the reference (tests/oracles.parse_stdlib). Any exception falls back
# to the stdlib-driven path, so robustness is never worse than html.parser.

from html import unescape as _unescape

_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_COMMENTCLOSE = re.compile(r"--\s*>")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}


_NAME_LOWER: dict = {}  # tag/attr-name lower() memo (bounded; names repeat)


# Start tags that need _TreeBuilder.start_element even with an element open:
# the implied html/head/body structure and the table fixups. Any other start
# tag closes what its implied end tags close, then links under the top of
# the stack (the body when the closes emptied it: no such tag is
# HEAD_CONTENT).
_STRUCTURE_START = frozenset(("html", "head", "body", "tr", "td", "th"))
_CLOSING_START = P_CLOSERS | frozenset(_IMPLIED_END)
# Open elements whose text handle_data rewrites: foster-parented table text
# and the first newline dropped after pre/textarea/listing.
_SLOW_TEXT_PARENTS = frozenset(("table", "tr", "pre", "textarea", "listing")) | TABLE_SECTIONS


def _fast_tokenize(rawdata: str, tb: "_TreeBuilder") -> None:
    i = 0
    n = len(rawdata)
    find = rawdata.find
    handle_data = tb.handle_data
    start_element = tb.start_element
    handle_endtag = tb.handle_endtag
    stack = tb.stack  # the builder only mutates it in place
    push = stack.append
    cache = _NAME_LOWER
    while i < n:
        j = find("<", i)
        if j < 0:
            text = rawdata[i:]
            handle_data(_unescape(text) if "&" in text else text)
            break
        if j > i:
            text = rawdata[i:j]
            if "&" in text:
                text = _unescape(text)
            # inline handle_data for text under an ordinary open element
            # (unescape can empty a text: handle_data drops that)
            if stack and text and stack[-1].data not in _SLOW_TEXT_PARENTS:
                parent = stack[-1]
                last = parent.last_child
                if last is not None and last.type == TEXT:
                    last.data += text
                else:
                    node = Node(TEXT, text)
                    node.parent = parent
                    if last is None:
                        parent.first_child = node
                    else:
                        last.next_sibling = node
                        node.prev_sibling = last
                    parent.last_child = node
            else:
                handle_data(text)
        if j + 1 >= n:
            handle_data("<")
            break
        c = rawdata[j + 1]
        if ("a" <= c <= "z") or ("A" <= c <= "Z"):
            # start tag
            m = _TAGFIND.match(rawdata, j + 1)
            raw = m.group(1)
            name = cache.get(raw)
            if name is None:
                name = raw.lower()
                if len(cache) < 1024:
                    cache[raw] = name
            k = m.end()
            attrs = []
            if k < n and rawdata[k] not in ">/":
                seen = set()  # _dedup_attrs: the first of each name wins
                while k < n and rawdata[k] not in ">/":
                    am = _ATTRFIND.match(rawdata, k)
                    if not am:
                        break
                    end = am.end()
                    if end == k:
                        break
                    k = end
                    raw, aval = am.group(1, 3)
                    aname = cache.get(raw)
                    if aname is None:
                        aname = raw.lower()
                        if len(cache) < 1024:
                            cache[raw] = aname
                    if aname in seen:
                        continue
                    seen.add(aname)
                    if aval is None:
                        attrs.append((aname, ""))
                    else:
                        if aval[:1] in "'\"" and aval[:1] == aval[-1:]:
                            aval = aval[1:-1]
                        attrs.append((aname, _unescape(aval) if "&" in aval else aval))
            gt = find(">", k)
            if gt < 0:
                # unterminated tag at EOF: stdlib treats the rest as data
                text = rawdata[j:]
                handle_data(_unescape(text) if "&" in text else text)
                break
            i = gt + 1
            # html.parser's handle_startendtag (a trailing slash) builds the
            # same tree as handle_starttag; the slash only matters below
            if stack and name not in _STRUCTURE_START:
                if name in _CLOSING_START:
                    if name in P_CLOSERS:
                        tb._close_p_in_button_scope()
                    implied = _IMPLIED_END.get(name)
                    if implied is not None:
                        tb._close_siblings(*implied)
                    parent = stack[-1] if stack else tb._ensure_body()
                else:
                    parent = stack[-1]
                node = Node(ELEMENT, name, attrs)
                node.parent = parent
                last = parent.last_child
                if last is None:
                    parent.first_child = node
                else:
                    last.next_sibling = node
                    node.prev_sibling = last
                parent.last_child = node
                if name not in VOID_ELEMENTS:
                    push(node)
            else:
                start_element(name, attrs)
            if name in _CDATA_CLOSE:
                # a self-closing <script/> or <style/> opens no raw text;
                # gt >= k > j+1, so rawdata[gt-1] is in bounds
                if not (rawdata[gt - 1] == "/" or rawdata[k:gt].rstrip().endswith("/")):
                    cm = _CDATA_CLOSE[name].search(rawdata, i)
                    if cm:
                        if cm.start() > i:
                            handle_data(rawdata[i : cm.start()])  # raw, no unescape
                        handle_endtag(name)
                        i = cm.end()
                    else:
                        if i < n:
                            handle_data(rawdata[i:])
                        break
        elif c == "/":
            m = _ENDTAGFIND.match(rawdata, j)
            if m:
                raw = m.group(1)
                name = cache.get(raw)
                if name is None:
                    name = raw.lower()
                    if len(cache) < 1024:
                        cache[raw] = name
                i = m.end()
                # the stack never holds a void element or html/head/body,
                # so an end tag naming its top just pops it
                if stack and stack[-1].data == name:
                    stack.pop()
                else:
                    handle_endtag(name)
            else:
                gt = find(">", j)
                if gt < 0:
                    text = rawdata[j:]
                    handle_data(_unescape(text) if "&" in text else text)
                    break
                tm = _TAGFIND.match(rawdata, j + 2)
                if tm:
                    handle_endtag(tm.group(1).lower())
                i = gt + 1
        elif c == "!" or c == "?":
            if rawdata.startswith("<!--", j):
                cm = _COMMENTCLOSE.search(rawdata, j + 4)
                if cm:
                    tb.handle_comment(rawdata[j + 4 : cm.start()])
                    i = cm.end()
                else:
                    tb.handle_comment(rawdata[j + 4 :])
                    break
            else:
                gt = find(">", j)
                if gt < 0:
                    break  # unclosed declaration at EOF: dropped
                i = gt + 1  # doctype/PI/bogus comment: not material
        else:
            handle_data("<")
            i = j + 1


def parse(html_text: str) -> Node:
    """Parse HTML text into a document Node (HTML5-lite tree construction).

    Uses the fast single-pass tokenizer; falls back to the stdlib
    html.parser driver on any internal error (never less robust)."""
    tb = _TreeBuilder()
    try:
        _fast_tokenize(html_text, tb)
    except Exception:
        tb = _TreeBuilder()
        try:
            tb.feed(html_text)
            tb.close()
        except Exception:
            # html.parser is tolerant; any residual error means grossly
            # invalid markup — keep whatever tree was built.
            pass
    tb._ensure_body()
    return tb.doc


# ---------------------------------------------------------------------------
# Traversal (port of WalkNodesWithTruncation, internal/helpers.go:415-465)
# ---------------------------------------------------------------------------

MAX_WALK_NODES = 50000  # helpers.go:386 maxWalkDepth — output-affecting cap


def walk_nodes(node: Node, fn) -> tuple[bool, int]:
    """Iterative pre-order walk; fn(node)->False skips that node's children.

    Visits at most MAX_WALK_NODES nodes (truncation is output-affecting on
    adversarial docs and must match the reference, helpers.go:434-438).
    Returns (truncated, visited).
    """
    if node is None or fn is None:
        return False, 0
    stack = [node]
    push = stack.append
    pop = stack.pop
    visited = 0
    while stack:
        visited += 1
        if visited > MAX_WALK_NODES:
            return True, visited - 1
        n = pop()
        if not fn(n):
            continue
        # push children in reverse document order (via prev_sibling chain)
        # so the first child pops next — no intermediate reversal needed
        c = n.last_child
        while c is not None:
            push(c)
            c = c.prev_sibling
    return False, visited


def find_element_by_tag(doc: Node, tag: str) -> Node | None:
    """Port of FindElementByTag (helpers.go:467-477).

    Early-exits on the first pre-order match instead of completing the
    walk — output-identical (the reference also takes the first match in
    pre-order, and the MAX_WALK_NODES cap binds at the same visit count),
    but O(position-of-match): a <title> near the document start costs a
    handful of visits, not a full-tree walk."""
    if doc is None:
        return None
    stack = [doc]
    pop = stack.pop
    push = stack.append
    visited = 0
    while stack:
        visited += 1
        if visited > MAX_WALK_NODES:
            return None
        n = pop()
        if n.type == ELEMENT and n.data == tag:
            return n
        c = n.last_child
        while c is not None:
            push(c)
            c = c.prev_sibling
    return None


def tree_depth_exceeds(root: Node, max_depth: int) -> bool:
    """Port of validateDepthTraversal (extract.go:702-730): True when any
    node sits deeper than ``max_depth`` levels below ``root``.

    Level-order sweep: one list per depth level instead of a (node,
    depth) tuple per node — same True/False for every tree (any
    non-empty level past max_depth means some node exceeds it), ~half
    the allocations of the tuple-stack form on compliant documents."""
    level = [root]
    depth = 0
    while level:
        if depth > max_depth:
            return True
        nxt = []
        append = nxt.append
        for node in level:
            c = node.first_child
            while c is not None:
                append(c)
                c = c.next_sibling
        level = nxt
        depth += 1
    return False
