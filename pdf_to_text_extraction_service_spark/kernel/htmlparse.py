"""Tolerant HTML tree builder (from scratch, stdlib-only).

The reference strips HTML via a WHATWG-HTML5 parse tree
(golang.org/x/net/html, see internal/extractors/plaintext/html_strip.go:44).
bs4/lxml are not available in this environment, so we implement a
tolerant tree builder covering the construct subset the corpus generator
emits (SURVEY.md §7 hard-part 2): explicit or implied html/head/body,
void elements, ``<p>``/``<li>`` auto-closing, raw-text ``script``/
``style``, RCDATA ``title``, comments, doctype, and HTML5 entity
decoding. Output tree shape is equivalent for the purposes of
``html_strip`` (same pruning set, same document-order text nodes).

Performance note: this parser runs per document inside the extraction
Arrow pass — it is regex-tokenized and allocation-light on purpose.
"""

from __future__ import annotations

import html as _htmlmod
import re

TEXT = 0
ELEMENT = 1
COMMENT = 2
DOCUMENT = 3


class Node:
    __slots__ = ("type", "data", "children")

    def __init__(self, type_: int, data: str = ""):
        self.type = type_
        self.data = data
        self.children: list[Node] = []


_VOID = frozenset((
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
))

# Start tags that implicitly close an open <p> (HTML5 8.2.5.4.7 subset).
_P_CLOSERS = frozenset((
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2",
    "h3", "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol",
    "p", "pre", "section", "table", "ul", "li",
))

_RAWTEXT = frozenset(("script", "style"))

# Foreign content (SVG/MathML). The WHATWG "in foreign content" mode
# either consumes tokens inside the foreign subtree or BREAKS OUT to
# HTML on these start tags (13.2.6.5); the subtree itself is pruned —
# vector/math markup carries no extractable prose for the boilerplate
# stripper, mirroring how the reference's html_strip path only walks
# HTML block nodes.
_FOREIGN_ROOTS = frozenset(("svg", "math"))
_FOREIGN_BREAKOUT = frozenset((
    "b", "big", "blockquote", "body", "br", "center", "code", "dd",
    "div", "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4", "h5",
    "h6", "head", "hr", "i", "img", "li", "listing", "menu", "meta",
    "nobr", "ol", "p", "pre", "ruby", "s", "small", "span", "strong",
    "strike", "sub", "sup", "table", "tt", "u", "ul", "var",
))

# Table insertion modes (WHATWG "in table"/"in row" subset): content
# that is not table-structural gets FOSTER-PARENTED — inserted into
# the table's parent immediately before the table — matching
# x/net/html's tree for sloppy real-crawl markup like
# <table>oops<tr>....
_TABLE_CTX = frozenset(("table", "thead", "tbody", "tfoot", "tr"))
_TABLE_ALLOWED = frozenset((
    "caption", "colgroup", "col", "thead", "tbody", "tfoot", "tr",
    "td", "th", "script", "style", "template", "form",
))

# Implied-end-tag (names, scope-barrier) constants for _close_up_to.
# WHATWG puts <template> in EVERY "has element in ... scope" barrier
# list (13.2.4.2), so implied end tags and end-tag matching never
# cross a template boundary — the core of the template insertion
# modes for tree-shape purposes.
_ONLY_P = frozenset(("p",))
_P_SCOPE = _TABLE_CTX | frozenset(("td", "th", "caption", "template"))
_ONLY_LI = frozenset(("li",))
_LIST_SCOPE = frozenset(("ul", "ol", "template"))
_DD_DT = frozenset(("dd", "dt"))
_DL_SCOPE = frozenset(("dl", "template"))
_CELLS = frozenset(("td", "th"))
_ROW_SCOPE = frozenset(("tr", "table", "thead", "tbody", "tfoot",
                        "template"))
_ONLY_TR = frozenset(("tr",))
_SECTION_SCOPE = frozenset(("table", "thead", "tbody", "tfoot",
                            "template"))
_SECTIONS = frozenset(("thead", "tbody", "tfoot"))
_TABLE_SCOPE = frozenset(("table", "template"))
_ONLY_TABLE = frozenset(("table",))
_EMPTY = frozenset()
_TEMPLATE_BARRIER = frozenset(("template",))

_RAW_CLOSE = {
    t: re.compile(r"</" + t + r"\s*>", re.IGNORECASE)
    for t in ("script", "style", "title")
}

# WHATWG formatting elements (the adoption-agency set). Misnesting
# like <b><i></b></i> or <a>x<div>y</a> is endemic in real crawl
# HTML; x/net/html recovers via the adoption agency algorithm
# (html_strip.go:42 inherits it). We implement the active-formatting-
# elements list + reconstruction + a simplified adoption step that
# preserves what text extraction depends on: document text order,
# open block structure (a misnested </b> never blows away an open
# <div>), and anchor attribution for link-density scoring.
_FORMATTING = frozenset((
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u",
))
# table-boundary tags that insert a marker into the AFE list (spec:
# "clear the list of active formatting elements up to the last
# marker" when the cell/caption closes).  template is in the spec's
# marker set too (13.2.6.4.4/"in template"): formatting elements are
# never reconstructed across a template boundary.
_MARKER_TAGS = frozenset(("td", "th", "caption", "table", "template"))
_AFE_MARKER = object()

_TAG_RE = re.compile(
    r"<(?:"
    r"(?P<comment>!--)"
    r"|(?P<decl>![^>]*)"
    r"|(?P<pi>\?[^>]*)"
    r"|(?P<end>/[a-zA-Z][^>]*)"
    r"|(?P<start>[a-zA-Z][a-zA-Z0-9:_-]*)"
    r"(?P<attrs>(?:[^>\"']|\"[^\"]*\"|'[^']*')*)"
    r")>"
)

_unescape = _htmlmod.unescape


def parse(data: bytes | str) -> Node:
    """Parse HTML bytes into a Node tree rooted at a DOCUMENT node.
    Bytes are decoded with BOM/<meta charset> detection + UTF-8
    validity check + windows-1252 fallback (kernel/charset.py)."""
    if isinstance(data, bytes):
        from . import charset

        s, _ = charset.decode(data)
    else:
        s = data

    root = Node(DOCUMENT)
    stack: list[Node] = [root]
    open_tags: list[str] = []  # parallel tag-name stack (root excluded)
    afe: list = []  # active formatting elements: (tag, node) | marker

    def _afe_clear_to_marker() -> None:
        while afe:
            if afe.pop() is _AFE_MARKER:
                return

    def _afe_push(tag: str, node: Node) -> None:
        # Noah's Ark clause (tag-name approximation): at most 3 same-
        # tag entries since the last marker
        same = 0
        for k in range(len(afe) - 1, -1, -1):
            e = afe[k]
            if e is _AFE_MARKER:
                break
            if e[0] == tag:
                same += 1
                if same == 3:
                    del afe[k]
                    break
        afe.append((tag, node))

    def _reconstruct() -> None:
        """Reopen formatting elements that were implicitly closed —
        run before inserting visible text, so <p><b>x</p><p>y keeps
        y bold and <a>x<p>y keeps y inside an anchor clone."""
        if not afe:
            return
        last = afe[-1]
        if last is _AFE_MARKER or last[1] in stack:
            return
        i = len(afe) - 1
        while i > 0 and afe[i - 1] is not _AFE_MARKER \
                and afe[i - 1][1] not in stack:
            i -= 1
        for j in range(i, len(afe)):
            tag_j, _ = afe[j]
            clone = Node(ELEMENT, tag_j)
            stack[-1].children.append(clone)
            stack.append(clone)
            open_tags.append(tag_j)
            afe[j] = (tag_j, clone)

    def _adoption(tag: str) -> None:
        """Simplified adoption agency for a formatting end tag: find
        the matching AFE entry (up to the last marker); pop through
        formatting-only runs (leaving the outer entries reconstructable)
        or — when a block element intervenes — splice the formatting
        element out of the open stack without disturbing the blocks
        above it."""
        for ai in range(len(afe) - 1, -1, -1):
            e = afe[ai]
            if e is _AFE_MARKER:
                return
            if e[0] != tag:
                continue
            node = e[1]
            if node not in stack:
                del afe[ai]  # already implicitly closed — stop here
                return
            k = stack.index(node)  # open_tags index k-1
            if any(t not in _FORMATTING for t in open_tags[k:]):
                # furthest-block case (spec step 14-19, one
                # iteration): the first block above f is reparented
                # to f's parent so f no longer wraps FUTURE content,
                # and its existing children are clone-wrapped so the
                # content already written keeps f's attribution
                # (matters when f is <a>: link-density scoring).
                for bi in range(k, len(open_tags)):
                    if open_tags[bi] not in _FORMATTING:
                        block = stack[bi + 1]
                        break
                parent = stack[k - 1]
                if block in node.children:
                    node.children.remove(block)
                    try:
                        pos = parent.children.index(node) + 1
                    except ValueError:
                        pos = len(parent.children)
                    parent.children.insert(pos, block)
                if block.children:
                    clone = Node(ELEMENT, tag)
                    clone.children = block.children
                    block.children = [clone]
                del afe[ai]
                del open_tags[k - 1]
                del stack[k]
            else:
                # only formatting elements above: pop through them;
                # their AFE entries stay for reconstruction
                del afe[ai]
                del stack[k:]
                del open_tags[k - 1:]
            return

    def _foster_insert(node: Node) -> None:
        """Insert before the nearest open <table> in its parent."""
        for idx in range(len(stack) - 1, 0, -1):
            st = stack[idx]
            if st.type == ELEMENT and st.data == "table":
                parent = stack[idx - 1]
                try:
                    pos = parent.children.index(st)
                except ValueError:
                    pos = len(parent.children)
                parent.children.insert(pos, node)
                return
        stack[-1].children.append(node)

    def _close_up_to(names: frozenset | set, barriers: frozenset | set) \
            -> None:
        """Implied end tags: pop up to and including the nearest open
        element in ``names``, unless a ``barriers`` element sits
        closer to the top (scope boundary)."""
        for idx in range(len(open_tags) - 1, -1, -1):
            t = open_tags[idx]
            if t in barriers:
                return
            if t in names:
                for closed in open_tags[idx:]:
                    if closed in _MARKER_TAGS:
                        _afe_clear_to_marker()
                del open_tags[idx:]
                del stack[idx + 1:]
                return

    def append_text(raw: str, decode: bool = True) -> None:
        if not raw:
            return
        # inlined table-context check — this runs per text node
        in_table = open_tags and open_tags[-1] in _TABLE_CTX
        if afe and not in_table and raw.strip():
            _reconstruct()  # reopen implicitly-closed formatting els
        node = Node(TEXT, _unescape(raw) if decode and "&" in raw else raw)
        if in_table and raw.strip():
            _foster_insert(node)  # non-space chars in table context
        else:
            stack[-1].children.append(node)

    i = 0
    n = len(s)
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            append_text(s[i:])
            break
        if lt > i:
            append_text(s[i:lt])
        m = _TAG_RE.match(s, lt)
        if m is None:
            # Stray "<" — treat as text (tolerant, like the HTML5
            # tokenizer's parse-error recovery).
            append_text("<")
            i = lt + 1
            continue
        i = m.end()
        # single lastgroup lookup instead of probing all alternatives
        kind = m.lastgroup
        if kind == "comment":
            end = s.find("-->", lt + 4)
            if end < 0:
                stack[-1].children.append(Node(COMMENT, s[lt + 4:]))
                break
            stack[-1].children.append(Node(COMMENT, s[lt + 4:end]))
            i = end + 3
            continue
        if kind == "decl" or kind == "pi":
            continue
        if kind == "end":
            tag = m.group("end")[1:].strip().lower()
            parts = tag.split(None, 1)
            tag = parts[0] if parts else tag
            if tag in _FORMATTING:
                _adoption(tag)
                continue
            # end tags never match across a template boundary
            # (WHATWG: template is in every scope barrier list);
            # </template> itself pops everything up to the template
            # ("generate all implied end tags thoroughly")
            idx = None
            for j in range(len(open_tags) - 1, -1, -1):
                t = open_tags[j]
                if t == tag:
                    idx = j
                    break
                if t == "template" and tag != "template":
                    break
            if idx is not None:
                while len(open_tags) > idx:
                    t = open_tags.pop()
                    stack.pop()
                    if t in _MARKER_TAGS:
                        _afe_clear_to_marker()
            continue

        tag = m.group("start").lower()
        attrs = m.group("attrs") or ""
        self_closing = attrs.rstrip().endswith("/")

        # Implied end tags (WHATWG subset): p before block starts,
        # li/dd/dt siblings, table cells/rows/sections. Scope sets
        # are module constants (no per-tag set construction).
        if tag in _P_CLOSERS and "p" in open_tags:
            _close_up_to(_ONLY_P, _P_SCOPE)
        if tag == "li":
            _close_up_to(_ONLY_LI, _LIST_SCOPE)
        elif tag in ("dd", "dt"):
            _close_up_to(_DD_DT, _DL_SCOPE)
        elif tag in ("td", "th"):
            _close_up_to(_CELLS, _ROW_SCOPE)
        elif tag == "tr":
            _close_up_to(_ONLY_TR, _SECTION_SCOPE)
        elif tag in ("thead", "tbody", "tfoot"):
            _close_up_to(_SECTIONS, _TABLE_SCOPE)
        elif tag == "table" and "table" in open_tags:
            # a table start inside an open table closes it (the spec
            # reprocesses the token in the enclosing mode) — but never
            # across a template boundary
            _close_up_to(_ONLY_TABLE, _TEMPLATE_BARRIER)

        if tag == "a" and any(
                e is not _AFE_MARKER and e[0] == "a" for e in afe):
            # nested <a> is a parse error: the spec runs the adoption
            # agency for the open anchor before inserting the new one
            _adoption("a")

        el = Node(ELEMENT, tag)
        if open_tags and open_tags[-1] in _TABLE_CTX \
                and tag not in _TABLE_ALLOWED:
            _foster_insert(el)  # foster-parent stray table content
        else:
            stack[-1].children.append(el)

        if tag in _FOREIGN_ROOTS and not self_closing:
            i = _skip_foreign(s, i, tag)
            continue

        if tag in _VOID or self_closing:
            continue

        # marker only for elements actually OPENED — a self-closing
        # <table/> must not leave an uncleared marker poisoning the
        # AFE list for the rest of the document
        if tag in _MARKER_TAGS:
            afe.append(_AFE_MARKER)

        if tag in _RAWTEXT or tag == "title":
            cm = _RAW_CLOSE[tag].search(s, i)
            end = cm.start() if cm else n
            raw = s[i:end]
            if raw:
                # script/style are raw text (no entity decode);
                # title is RCDATA (entities decoded).
                el.children.append(
                    Node(TEXT, _unescape(raw) if tag == "title" else raw)
                )
            i = cm.end() if cm else n
            continue

        stack.append(el)
        open_tags.append(tag)
        if tag in _FORMATTING:
            _afe_push(tag, el)

    return root


def _skip_foreign(s: str, i: int, root: str) -> int:
    """Consume a foreign (svg/math) subtree starting just after the
    root's start tag. Depth-counts same-name nesting; an HTML BREAKOUT
    start tag (WHATWG 13.2.6.5 "in foreign content") closes the
    foreign subtree and reprocesses in HTML mode (so misnested markup
    like <svg><div>text</div> never swallows the document). Returns
    the index where HTML parsing resumes."""
    depth = 1
    n = len(s)
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            return n
        if s.startswith("<![CDATA[", lt):
            # CDATA sections are legal (and common, <svg><style>) in
            # foreign content: consume to the matching ']]>' so a
            # breakout lookalike like '<div' INSIDE the CDATA text
            # cannot falsely terminate the foreign skip
            end = s.find("]]>", lt + 9)
            if end < 0:
                return n
            i = end + 3
            continue
        m = _TAG_RE.match(s, lt)
        if m is None:
            i = lt + 1
            continue
        kind = m.lastgroup
        if kind == "comment":
            end = s.find("-->", lt + 4)
            if end < 0:
                return n
            i = end + 3
            continue
        if kind == "decl" or kind == "pi":
            i = m.end()
            continue
        if kind == "end":
            tag = m.group("end")[1:].strip().lower()
            tag = tag.split(None, 1)[0] if tag.split(None, 1) else tag
            if tag == root:
                depth -= 1
                if depth == 0:
                    return m.end()
            i = m.end()
            continue
        tag = m.group("start").lower()
        attrs = m.group("attrs") or ""
        if tag in _FOREIGN_BREAKOUT:
            return lt  # reprocess this tag in HTML mode
        if tag == root and not attrs.rstrip().endswith("/"):
            depth += 1
        i = m.end()
    return n


def node_text(n: Node) -> str:
    """Concatenated text of all TEXT descendants, document order
    (reference html_strip.go:84-96 htmlStripNodeText)."""
    if n.type == TEXT:
        return n.data
    parts: list[str] = []
    _collect_text(n, parts)
    return "".join(parts)


def _collect_text(n: Node, parts: list[str]) -> None:
    for c in n.children:
        if c.type == TEXT:
            parts.append(c.data)
        elif c.type == ELEMENT:
            _collect_text(c, parts)
