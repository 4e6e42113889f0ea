"""Minimal HTML DOM for the extraction kernel (stdlib only).

The reference uses BeautifulSoup+lxml (/root/reference/src/tableExtract/
tableExtractor.py:519-537); neither is available in this environment, and
the north star calls for an "lxml-style tree walk implemented as batched
tokenize+classify". This module implements the tokenizer (stdlib
``html.parser.HTMLParser``, which is regex-batch based, not char-at-a-time)
plus a small element tree with exactly the API surface the kernel needs:
``find_all``/``find``/``text``/``previous_sibling``/``extract``.

``pre_treat`` reproduces htmlPreTreat semantics
(/root/reference/src/tableExtract/tableExtractor.py:519-537): literal
removal of \\r \\t \\n, then dropping comments, <script>, <style>,
<article> and <code> subtrees.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from html.parser import HTMLParser
from operator import attrgetter

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Implied end tags: starting tag K closes an open element in IMPLIED_CLOSE[K].
IMPLIED_CLOSE: dict[str, frozenset] = {
    "td": frozenset({"td", "th"}),
    "th": frozenset({"td", "th"}),
    "tr": frozenset({"td", "th", "tr"}),
    "thead": frozenset({"td", "th", "tr"}),
    "tbody": frozenset({"td", "th", "tr", "thead"}),
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "p": frozenset({"p"}),
    "option": frozenset({"option"}),
}

_STRIP_TAGS = frozenset({"script", "style", "article", "code"})
_sid = attrgetter("sid")


class Node:
    """One element. ``children`` holds Node and str (text) in doc order.

    ``sid``/``eid`` are pre-order ids assigned by the builder (eid = last
    descendant's sid), and ``idx`` is the document-wide name->nodes index
    shared by every node of a parse — subtree ``find_all`` becomes a
    bisect slice of the index instead of a tree walk.
    """

    __slots__ = ("name", "attrs", "children", "parent", "sid", "eid", "idx", "dead")

    def __init__(self, name: str, attrs: dict[str, str] | None = None,
                 parent: "Node | None" = None):
        self.name = name
        self.attrs = attrs or {}
        self.children: list[Node | str] = []
        self.parent = parent
        self.sid = 0
        self.eid = 0
        self.idx: dict[str, list[Node]] | None = None
        self.dead = False

    # -- traversal ---------------------------------------------------------

    def iter_desc(self):
        """All descendant Nodes, document order (self excluded)."""
        stack = [c for c in reversed(self.children) if isinstance(c, Node)]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(c for c in reversed(node.children) if isinstance(c, Node))

    def _index_range(self, key: str) -> list["Node"]:
        """Index entries that are strict descendants of self (sid-sorted
        insertion order + bisect; nodes removed by extract() are marked
        dead and filtered out)."""
        lst = self.idx.get(key)
        if not lst:
            return []
        lo = bisect_right(lst, self.sid, key=_sid)
        hi = bisect_right(lst, self.eid, lo, key=_sid)
        return [n for n in lst[lo:hi] if not n.dead]

    def find_all(self, name: str | None = None,
                 class_re: str | re.Pattern | None = None) -> list["Node"]:
        """Descendants named ``name``, or carrying a class attribute when
        only ``class_re`` is given, whose class matches ``class_re``."""
        cand = self._index_range("@class" if name is None else name)
        if class_re is None:
            return cand
        pat = re.compile(class_re) if isinstance(class_re, str) else class_re
        return [n for n in cand if pat.search(n.attrs.get("class", ""))]

    def find(self, name: str) -> "Node | None":
        cand = self._index_range(name)
        return cand[0] if cand else None

    @property
    def element_children(self) -> list["Node"]:
        return [c for c in self.children if isinstance(c, Node)]

    @property
    def text(self) -> str:
        parts: list[str] = []
        stack: list[Node | str] = list(reversed(self.children))
        while stack:
            c = stack.pop()
            if isinstance(c, str):
                parts.append(c)
            else:
                stack.extend(reversed(c.children))
        return "".join(parts)

    def get(self, attr: str, default: str | None = None) -> str | None:
        return self.attrs.get(attr, default)

    def has_attr(self, attr: str) -> bool:
        return attr in self.attrs

    def previous_sibling(self) -> "Node | None":
        """Previous *element* sibling (whitespace text nodes are gone after
        pre_treat's \\r\\t\\n removal, mirroring bs4 behavior there)."""
        if self.parent is None:
            return None
        sibs = self.parent.element_children
        i = sibs.index(self)
        return sibs[i - 1] if i > 0 else None

    def extract(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None
        self.dead = True
        for n in self.iter_desc():
            n.dead = True

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs}>"


class _TreeBuilder(HTMLParser):
    """Tree builder; with ``strip`` set, boilerplate subtrees
    (script/style/article/code) are skipped DURING tokenization — cheaper
    than building and then extracting them, and equivalent to
    htmlPreTreat's removals."""

    def __init__(self, strip: frozenset = frozenset()) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self.stack: list[Node] = [self.root]
        self._strip = strip
        self._skip_depth = 0
        self._skip_tag = ""
        self._counter = 0
        self.idx: dict[str, list[Node]] = {}
        self.root.idx = self.idx

    def _new_node(self, tag: str, attrs) -> Node:
        node = Node(tag, {k: (v if v is not None else "") for k, v in attrs},
                    self.stack[-1])
        self._counter += 1
        node.sid = node.eid = self._counter
        node.idx = self.idx
        self.idx.setdefault(tag, []).append(node)
        if "class" in node.attrs:
            self.idx.setdefault("@class", []).append(node)
        return node

    def _pop(self) -> None:
        node = self.stack.pop()
        node.eid = self._counter

    # HTMLParser treats <script>/<style> bodies as raw data already.

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._skip_depth:
            if tag == self._skip_tag and tag not in VOID_ELEMENTS:
                self._skip_depth += 1
            return
        if tag in self._strip:
            if tag not in VOID_ELEMENTS:
                self._skip_depth = 1
                self._skip_tag = tag
            return
        implied = IMPLIED_CLOSE.get(tag)
        if implied:
            while len(self.stack) > 1 and self.stack[-1].name in implied:
                self._pop()
        node = self._new_node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._skip_depth or tag in self._strip:
            return
        node = self._new_node(tag, attrs)
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        if self._skip_depth:
            if tag == self._skip_tag:
                self._skip_depth -= 1
            return
        # pop to the matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                while len(self.stack) > i:
                    self._pop()
                return

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        if data:
            self.stack[-1].children.append(data)

    # comments, decls, PIs: dropped (htmlPreTreat removes comments anyway)


def parse_html_stdlib(html: str, strip: frozenset = frozenset()) -> Node:
    """Reference tokenizer path (stdlib HTMLParser); kept as the
    differential-testing baseline for the fast tokenizer below."""
    builder = _TreeBuilder(strip)
    builder.feed(html)
    builder.close()
    while len(builder.stack) > 1:
        builder._pop()
    builder.root.eid = builder._counter
    return builder.root


# ---------------------------------------------------------------------------
# Fast tokenizer: one regex-driven scan, same tree/index semantics as the
# stdlib path (verified by tests/test_dom.py::test_fast_matches_stdlib
# over every fixture archetype, curated tricky cases, and hypothesis tag
# soup). ~2x the tokenization throughput of html.parser for the
# table-heavy pages this engine processes.
#
# Contract limit: equivalence is guaranteed when '<'+letter sequences are
# actual tags. On pathological soup like '<a&amp;b</span>' CPython's
# tolerant tag regexes fabricate an element whose NAME contains '&' and
# '<'; the fast path treats the '<' as text instead. Both outputs are
# garbage-in-garbage-out; extraction semantics are unaffected (such
# fragments can't form tables either way).
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(
    r"<([a-zA-Z][^\s/>]*)"                                   # name
    r"((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s>]*))?)*)"
    r"\s*(/?)>"
)
_ATTR_RE = re.compile(
    r"([^\s/>=]+)(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
# CDATA elements exactly as the stdlib baseline treats them (HTMLParser
# CDATA_CONTENT_ELEMENTS = script, style; title/textarea are ordinary
# elements there and must stay so here for differential equivalence)
_RAWTEXT = frozenset({"script", "style"})
_RAW_CLOSE = {name: re.compile(f"</{name}", re.I) for name in _RAWTEXT}


def parse_html(html: str, strip: frozenset = frozenset()) -> Node:
    from html import unescape

    counter = 0
    idx: dict[str, list[Node]] = {}
    root = Node("[document]")
    root.idx = idx
    stack = [root]
    skip_depth = 0
    skip_tag = ""
    n = len(html)
    pos = 0
    find = html.find

    def emit_data(s: str) -> None:
        if skip_depth or not s:
            return
        if "&" in s:
            s = unescape(s)
        stack[-1].children.append(s)

    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            emit_data(html[pos:])
            break
        if lt > pos:
            emit_data(html[pos:lt])
        nxt = html[lt + 1] if lt + 1 < n else ""
        if nxt == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                pos = n if end == -1 else end + 3
            else:
                end = find(">", lt)
                pos = n if end == -1 else end + 1
            continue
        if nxt == "/":
            end = find(">", lt)
            if end == -1:
                pos = n
                continue
            name = html[lt + 2:end].strip().lower()
            name = name.split()[0] if name else ""
            pos = end + 1
            if skip_depth:
                if name == skip_tag:
                    skip_depth -= 1
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].name == name:
                    while len(stack) > i:
                        node = stack.pop()
                        node.eid = counter
                    break
            continue
        if nxt == "?":
            end = find(">", lt)
            pos = n if end == -1 else end + 1
            continue
        m = _TAG_RE.match(html, lt)
        if m is None:
            emit_data("<")
            pos = lt + 1
            continue
        pos = m.end()
        name = m.group(1).lower()
        self_closing = m.group(3) == "/"
        if skip_depth:
            if name in _RAWTEXT and not self_closing:
                # CDATA content inside a skipped subtree: jump past the
                # raw close so e.g. "</article>" INSIDE a script body
                # cannot terminate the skip early (stdlib parity)
                cm = _RAW_CLOSE[name].search(html, pos)
                if cm is None:
                    pos = n
                    continue
                gt = find(">", cm.end())
                pos = n if gt == -1 else gt + 1
                continue
            if name == skip_tag and not self_closing \
                    and name not in VOID_ELEMENTS:
                skip_depth += 1
            continue
        if name in strip:
            if self_closing or name in VOID_ELEMENTS:
                continue  # stdlib: startendtag never enters CDATA/skip
            if name in _RAWTEXT:
                cm = _RAW_CLOSE[name].search(html, pos)
                if cm is None:
                    break
                gt = find(">", cm.end())
                pos = n if gt == -1 else gt + 1
            else:
                skip_depth = 1
                skip_tag = name
            continue
        attrs: dict[str, str] = {}
        raw_attrs = m.group(2)
        if raw_attrs:
            for am in _ATTR_RE.finditer(raw_attrs):
                v = am.group(2) or am.group(3) or am.group(4) or ""
                if "&" in v:
                    v = unescape(v)
                attrs[am.group(1).lower()] = v
        # stdlib parity: handle_startendtag does NOT apply implied-close,
        # so self-closing tags must not pop open cells/items here either
        implied = None if self_closing else IMPLIED_CLOSE.get(name)
        if implied:
            while len(stack) > 1 and stack[-1].name in implied:
                node = stack.pop()
                node.eid = counter
        node = Node(name, attrs, stack[-1])
        counter += 1
        node.sid = node.eid = counter
        node.idx = idx
        idx.setdefault(name, []).append(node)
        if "class" in attrs:
            idx.setdefault("@class", []).append(node)
        stack[-1].children.append(node)
        if self_closing or name in VOID_ELEMENTS:
            continue
        if name in _RAWTEXT:
            # CDATA semantics: no entity conversion inside raw-text
            # elements; UNCLOSED CDATA content is dropped entirely
            # (HTMLParser buffers it forever waiting for the close tag)
            cm = _RAW_CLOSE[name].search(html, pos)
            node.eid = counter
            if cm is None:
                break
            if cm.start() > pos:
                node.children.append(html[pos:cm.start()])
            gt = find(">", cm.end())
            pos = n if gt == -1 else gt + 1
            continue
        stack.append(node)

    while len(stack) > 1:
        node = stack.pop()
        node.eid = counter
    root.eid = counter
    return root


def pre_treat(html: str) -> Node:
    """htmlPreTreat (tableExtractor.py:519-537): strip \\r\\t\\n literally,
    then parse with comment/script/style/article/code subtrees dropped
    at tokenization time."""
    html = html.replace("\r", "").replace("\t", "").replace("\n", "")
    return parse_html(html, strip=_STRIP_TAGS)
