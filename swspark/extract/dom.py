"""DOM tree + HTML parser (stdlib ``html.parser``).

Reimplements the observable semantics of the reference's tree layer:

- flat-arena tree with parent/children links and pre-order traversal
  (reference: slotmap tree, crates/sws-tree/src/lib.rs:22-35);
- node kinds Document/Doctype/Comment/Text/Element/ProcessingInstruction
  (crates/sws-tree/src/node.rs:13-35);
- elements carry lowercased name, pre-split id/classes, attr map with
  first-occurrence-wins duplicates (node.rs:212-252);
- adjacent text nodes are merged on append
  (crates/sws-scraper/src/html/tree_sink.rs:100-124);
- parse errors are collected, never fatal (html/mod.rs:19-34);
- ``inner_text`` = concatenation of all descendant text nodes in
  pre-order document order, no separator, no whitespace normalization
  (element_ref/mod.rs:87-99) — the byte-identity target;
- character references decoded at parse time except inside rawtext
  elements (html5 tokenizer behavior).

Tree construction follows the html5 insertion rules (r4 implied
tags, r5 foster parenting + active formatting): html/head/body are
implied when absent, `<p>`/`<li>`/`<dd>`/`<dt>`/headings auto-close per
the spec's scoping rules, table context is normalized (implied
`<tbody>`, `<tr>`/cells close the open row/cell, stray table tags
outside a table are ignored), stray in-table content FOSTER-PARENTS
to just before the table (whitespace-only runs stay), formatting
elements (a/b/i/em/...) live on an active-formatting list with
markers + Noah's Ark, are reconstructed across block boundaries, and
misnested formatting end tags run the full adoption agency algorithm
(`<b><p>x</b>y` builds html5ever's tree), `</p>` with no open p
inserts an empty one and `</br>` acts as `<br>` — see _build_tree.
Character data is never dropped; foster parenting is the ONE
spec-mandated construct that moves it, so stream_fulltext delegates
table-bearing documents to the tree to stay byte-identical.
One retained deviation: whitespace before <html>/<head> is kept in
place rather than dropped (html5ever ignores it) — it never changes
selector matches on elements and keeps full-document text total.

Remaining boundary vs html5ever (narrow, documented): template
content trees, SVG/MathML foreign content, and the in-select /
frameset insertion modes. Unclosed tags are recovered by popping to
the nearest matching open tag.
"""

from __future__ import annotations

from html.parser import HTMLParser

from swspark.extract.htmltok import tokenize as _fast_tokenize

DOCUMENT = 0
DOCTYPE = 1
COMMENT = 2
TEXT = 3
ELEMENT = 4
PI = 5


class NodeKind:
    DOCUMENT = DOCUMENT
    DOCTYPE = DOCTYPE
    COMMENT = COMMENT
    TEXT = TEXT
    ELEMENT = ELEMENT
    PI = PI


# https://html.spec.whatwg.org/#void-elements
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
# Elements whose text content is never entity-escaped on serialization
# (html5ever serializer behavior for rawtext).
RAWTEXT_ELEMENTS = frozenset(
    "style script xmp iframe noembed noframes plaintext noscript".split()
)


class Node:
    __slots__ = ("kind", "parent", "children", "text", "name", "attrs", "id", "classes")

    def __init__(self, kind: int, text: str = "", name: str = ""):
        self.kind = kind
        self.parent: Node | None = None
        self.children: list[Node] = []
        self.text = text  # TEXT data / COMMENT data / DOCTYPE decl / PI data
        self.name = name
        self.attrs: dict[str, str] = {}
        self.id: str | None = None
        self.classes: frozenset[str] = frozenset()

    # --- structure -------------------------------------------------
    def append(self, child: "Node") -> None:
        """Append a child, merging adjacent text nodes
        (tree_sink.rs:100-124 semantics)."""
        if child.kind == TEXT and self.children and self.children[-1].kind == TEXT:
            self.children[-1].text += child.text
            return
        child.parent = self
        self.children.append(child)

    def descendants(self):
        """Pre-order traversal of strict descendants (document order)."""
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if node.children:
                stack.extend(reversed(node.children))

    def descendant_elements(self):
        # single-frame pre-order walk (not a filter over
        # descendants(): the extra generator hop costs ~30% of
        # traversal time on the spec-extraction profile)
        stack = list(reversed(self.children))
        pop = stack.pop
        push = stack.extend
        while stack:
            node = pop()
            if node.children:
                push(reversed(node.children))
            if node.kind == ELEMENT:
                yield node

    # --- traversal axes (reference: crates/sws-tree/src/iter.rs,
    # tested in crates/sws-tree/tests/{node,iter}.rs) ----------------
    def first_child(self) -> "Node | None":
        return self.children[0] if self.children else None

    def last_child(self) -> "Node | None":
        return self.children[-1] if self.children else None

    def _sibling_index(self) -> int:
        sibs = self.parent.children
        for i, s in enumerate(sibs):
            if s is self:
                return i
        raise ValueError("node not in parent children")  # pragma: no cover

    def prev_sibling(self) -> "Node | None":
        if self.parent is None:
            return None
        i = self._sibling_index()
        return self.parent.children[i - 1] if i > 0 else None

    def next_sibling(self) -> "Node | None":
        if self.parent is None:
            return None
        i = self._sibling_index()
        sibs = self.parent.children
        return sibs[i + 1] if i + 1 < len(sibs) else None

    def ancestors(self):
        n = self.parent
        while n is not None:
            yield n
            n = n.parent

    def prev_siblings(self):
        n = self.prev_sibling()
        while n is not None:
            yield n
            n = n.prev_sibling()

    def next_siblings(self):
        n = self.next_sibling()
        while n is not None:
            yield n
            n = n.next_sibling()

    def first_children(self):
        n = self.first_child()
        while n is not None:
            yield n
            n = n.first_child()

    def last_children(self):
        n = self.last_child()
        while n is not None:
            yield n
            n = n.last_child()

    def traverse(self):
        """Depth-first edge traversal: ('open', n) ... ('close', n),
        including self (iter.rs Edge::Open/Close semantics)."""
        stack = [("open", self)]
        while stack:
            edge, node = stack.pop()
            yield edge, node
            if edge == "open":
                stack.append(("close", node))
                for c in reversed(node.children):
                    stack.append(("open", c))

    # --- element accessors (node.rs:254-288, interop.rs:98-140) -----
    def attr(self, name: str) -> str | None:
        return self.attrs.get(name)

    def has_class(self, cls: str, case_insensitive: bool = False) -> bool:
        """Lua-surface hasClass is ASCII-case-insensitive
        (interop.rs:109-113); CSS .class matching is case-sensitive."""
        if case_insensitive:
            low = cls.lower()
            return any(c.lower() == low for c in self.classes)
        return cls in self.classes

    # --- extraction (element_ref/mod.rs) -----------------------------
    def text_nodes(self):
        """Lazy iterator over descendant text node strings, pre-order
        (element_ref/mod.rs:80-84,140-168)."""
        for n in self.descendants():
            if n.kind == TEXT:
                yield n.text

    def inner_text(self) -> str:
        """Byte-identity target: pre-order concat, no separator, no
        normalization (element_ref/mod.rs:87-99)."""
        return "".join(self.text_nodes())

    def inner_html(self) -> str:
        """Serialize children only (element_ref/mod.rs:75-77,
        TraversalScope::ChildrenOnly)."""
        out: list[str] = []
        raw = self.kind == ELEMENT and self.name in RAWTEXT_ELEMENTS
        for c in self.children:
            _serialize(c, out, raw)
        return "".join(out)

    def html(self) -> str:
        """Serialize including the node itself (element_ref/mod.rs:70-72)."""
        out: list[str] = []
        parent_raw = (
            self.parent is not None
            and self.parent.kind == ELEMENT
            and self.parent.name in RAWTEXT_ELEMENTS
        )
        _serialize(self, out, parent_raw)
        return "".join(out)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        if self.kind == ELEMENT:
            return f"<Element {self.name} id={self.id} classes={sorted(self.classes)}>"
        return f"<Node kind={self.kind} {self.text[:30]!r}>"


def _escape_text(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace('"', "&quot;")
    )


def _serialize(node: Node, out: list[str], in_rawtext: bool) -> None:
    """html5ever-compatible serialization
    (crates/sws-scraper/src/html/serializable.rs:9-53)."""
    k = node.kind
    if k == TEXT:
        out.append(node.text if in_rawtext else _escape_text(node.text))
    elif k == ELEMENT:
        out.append("<")
        out.append(node.name)
        for a, v in node.attrs.items():
            out.append(f' {a}="{_escape_attr(v)}"')
        out.append(">")
        if node.name in VOID_ELEMENTS:
            return
        raw = node.name in RAWTEXT_ELEMENTS
        for c in node.children:
            _serialize(c, out, raw)
        out.append(f"</{node.name}>")
    elif k == COMMENT:
        out.append(f"<!--{node.text}-->")
    elif k == DOCTYPE:
        out.append(f"<!DOCTYPE {node.text}>")
    elif k == PI:
        out.append(f"<?{node.text}>")
    else:  # DOCUMENT
        for c in node.children:
            _serialize(c, out, in_rawtext)


class _EventCollector(HTMLParser):
    """stdlib fallback tokenizer: emit the same event tuples as
    htmltok.tokenize so BOTH tokenizer paths build trees through the
    one _build_tree (identical construction rules by construction)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.events: list[tuple] = []

    # html.parser lowercases tag and attribute names already.
    def handle_starttag(self, tag: str, attrs) -> None:
        self.events.append(("s", tag, attrs))

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.events.append(("x", tag, attrs))

    def handle_endtag(self, tag: str) -> None:
        self.events.append(("e", tag))

    def handle_data(self, data: str) -> None:
        if data:
            self.events.append(("d", data))

    def handle_comment(self, data: str) -> None:
        self.events.append(("c", data))

    def handle_decl(self, decl: str) -> None:
        self.events.append(("!", decl))

    def handle_pi(self, data: str) -> None:
        self.events.append(("?", data))

    def error(self, message: str) -> None:  # pragma: no cover
        pass


def _events(html: str | bytes) -> list[tuple]:
    """The document's event list, from the one tokenizer both
    extraction paths read. htmltok.tokenize is event-identical to
    html.parser (differential-fuzzed in tests); a None return means the
    document hit a construct only stdlib handles, so it is retokenized
    whole with html.parser."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    evs = _fast_tokenize(html)
    if evs is None:
        ec = _EventCollector()
        try:
            ec.feed(html)
            ec.close()
        except Exception:  # never fatal (html/mod.rs:19-22)
            pass
        evs = ec.events
    return evs


_TABLE_RX = __import__("re").compile(r"<[tT][aA][bB][lL][eE]")


def stream_fulltext(html: str | bytes) -> str:
    """Tree-free fulltext: parse_document(html).root.inner_text()
    without building the tree. Document-root inner_text is the
    pre-order concat of TEXT nodes (element_ref/mod.rs:87-99), and the
    tree builder appends text nodes in data-event order, so joining
    the data events is byte-identical while skipping every Node
    allocation (equality is pinned by the extract_identity oracle and
    the golden tests)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    if _TABLE_RX.search(html) is not None:
        # foster parenting (r5) MOVES non-whitespace character runs
        # that sit in table context to just before the table — the
        # one construct where document text order differs from token
        # order — so table-bearing documents take the tree path to
        # stay byte-identical to root.inner_text(). Everything else
        # keeps the allocation-free token stream: the adoption agency
        # and formatting reconstruction only move element boundaries,
        # never the relative order of character data.
        return Html.parse_document(html).root.inner_text()
    return "".join(ev[1] for ev in _events(html) if ev[0] == "d")


# html5 tree-construction vocabulary (all sets straight from the
# spec's "in body"/"in table" insertion modes — the rules html5ever's
# TreeBuilder applies for the reference, tree_sink.rs:13-228):
# start tags that close an open <p> in button scope
_P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl "
    "fieldset figcaption figure footer form header hgroup hr listing "
    "main menu nav ol p plaintext pre search section summary ul xmp "
    "h1 h2 h3 h4 h5 h6 li dd dt table".split()
)
_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())
# "has X in button scope" stops at these (p auto-close boundary)
_BUTTON_SCOPE_STOP = frozenset(
    "applet caption html table td th marquee object template button".split()
)
_DEFAULT_SCOPE_STOP = frozenset(
    "applet caption html table td th marquee object template".split()
)
# the spec's "special" category (li/dd/dt close-loop boundary)
_SPECIAL_CAT = frozenset(
    "address applet area article aside base basefont bgsound blockquote "
    "body br button caption center col colgroup dd details dir div dl dt "
    "embed fieldset figcaption figure footer form frame frameset h1 h2 h3 "
    "h4 h5 h6 head header hgroup hr html iframe img input keygen li link "
    "listing main marquee menu meta nav noembed noframes noscript object "
    "ol p param plaintext pre script search section select source style "
    "summary table tbody td template textarea tfoot th thead title tr "
    "track ul wbr xmp".split()
)
# metadata content routed into the implied <head> before body opens
_HEAD_ONLY = frozenset(
    "base basefont bgsound link meta title style script noscript "
    "noframes template".split()
)
_ROW_GROUPS = frozenset(("tbody", "thead", "tfoot"))
_CELLS = frozenset(("td", "th"))
# current-node names meaning "in table context, outside any cell"
_TABLE_MODES = frozenset(
    "table tbody thead tfoot tr caption colgroup".split()
)
_TABLE_TAGS = frozenset(
    "table caption col colgroup tbody td tfoot th thead tr".split()
)
# formatting elements tracked by the active-formatting list (the
# spec's adoption-agency subjects; html5ever tree_builder rules)
_FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)
# current-node names that trigger foster parenting for in-body
# content ("in table" insertion mode, outside caption/cell)
_TABLE_FOSTER = frozenset(("table", "tbody", "thead", "tfoot", "tr"))
# elements whose start tag pushes a marker onto the active-formatting
# list and whose close clears it back to that marker
_MARKER_OWNERS = frozenset(
    ("td", "th", "caption", "applet", "object", "marquee", "template")
)
# start tags needing construction logic beyond append+push
_SPECIAL_START = (
    _P_CLOSERS
    | _TABLE_TAGS
    | frozenset(("html", "head", "body", "option", "optgroup", "button",
                 "frame"))
)
_SPECIAL_END = frozenset(("p", "br", "body", "html", "head"))
_WS = frozenset(" \t\n\r\f")  # html5 ASCII whitespace (NOT \xa0)


_AFE_MARKER = object()  # active-formatting-list marker sentinel


def _clone_element(el: Node) -> Node:
    """Shallow clone for formatting reconstruction / adoption agency
    (same name + attrs, no children)."""
    c = Node(ELEMENT, name=el.name)
    c.attrs = dict(el.attrs)
    c.id = el.id
    c.classes = el.classes
    return c


def _make_element(name: str, attrs) -> Node:
    el = Node(ELEMENT, name=name)
    if attrs:
        amap = el.attrs
        for a, v in attrs:
            if a not in amap:  # first occurrence wins (html5 spec)
                amap[a] = v if v is not None else ""
        el.id = amap.get("id")
        cls = amap.get("class")
        if cls:
            el.classes = frozenset(cls.split())
    return el


def _build_tree(events) -> "tuple[Node, list[str]]":
    """Event -> tree with the html5 insertion rules real-web pages
    rely on (html5ever parity pinned by tests/test_html5_tree.py
    golden vectors):

    - html/head/body implication: metadata tags fill an implied
      <head>, anything else opens <body>; </body>/</html> leave body
      current so trailing content still lands in body;
    - <p> closes in button scope before any _P_CLOSERS start tag;
      <li>/<dd>/<dt> close an open item (special-category loop);
      a heading start tag pops a current heading;
    - table normalization: <tr> under <table> implies <tbody>,
      <td>/<th> under a row group implies <tr>, a new cell/row/row
      group closes the open one, <col> implies <colgroup>, and table
      structure tags OUTSIDE any table are ignored (in-body rule);
    - FOSTER PARENTING (r5): in-body content arriving while the
      current node is table/tbody/thead/tfoot/tr is inserted
      immediately BEFORE the open table. Character runs buffer until
      the next tag: an all-whitespace run stays in the table, a run
      with any non-space fosters whole (the spec's pending table
      character tokens);
    - ACTIVE FORMATTING (r5): a/b/big/code/em/font/i/nobr/s/small/
      strike/strong/tt/u live on the active-formatting list (with
      Noah's Ark clause); they are reconstructed before character
      data and ordinary start tags, cleared to markers at cell/
      caption/applet boundaries, and misnested end tags run the full
      adoption agency algorithm (<b><p>x</b>y -> b, p>(b>x, y) — the
      html5ever tree, tree_sink.rs:13-228 delegating to the spec);
    - <option>/<optgroup> close an open option; <button> closes an
      open button; </p> with no open p inserts an empty one; </br>
      acts as <br>.

    Character data is never DROPPED; foster parenting is the one
    construct that moves it (spec-mandated) — stream_fulltext
    mirrors this by delegating table-bearing documents to the tree.
    """
    root = Node(DOCUMENT)
    errors: list[str] = []
    stack = [root]
    html_el: Node | None = None
    head_el: Node | None = None
    body_el: Node | None = None
    head_open = False
    head_reopened = False
    afe: list = []  # active formatting: Node refs / _AFE_MARKER
    pending_tt: list[str] = []  # char runs seen in table context

    def _merge_append(parent: Node, node_: Node) -> None:
        ch = parent.children
        if node_.kind == TEXT and ch and ch[-1].kind == TEXT:
            ch[-1].text += node_.text
            return
        node_.parent = parent
        ch.append(node_)

    def _detach(n: Node) -> None:
        if n.parent is not None:
            n.parent.children.remove(n)
            n.parent = None

    def _insert_before_table(node_: Node) -> None:
        # foster position: immediately before the last open table
        # (merging with an existing text sibling, tree_sink merge law)
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == "table":
                tbl = stack[i]
                parent = tbl.parent
                if parent is None:  # pragma: no cover - table always inserted
                    _merge_append(stack[i - 1], node_)
                    return
                idx = parent.children.index(tbl)
                if (
                    node_.kind == TEXT and idx > 0
                    and parent.children[idx - 1].kind == TEXT
                ):
                    parent.children[idx - 1].text += node_.text
                    return
                node_.parent = parent
                parent.children.insert(idx, node_)
                return
        _merge_append(stack[-1], node_)  # no open table: plain append

    def _insert(el: Node, push: bool) -> None:
        # plain structural insertion (table skeleton paths: never
        # foster tbody/tr/cells into their own table)
        top = stack[-1]
        el.parent = top
        top.children.append(el)
        if push:
            stack.append(el)

    def _insert_appropriate(el: Node, push: bool) -> None:
        # in-body insertion at the spec's "appropriate place":
        # fosters when the current node is in table context
        top = stack[-1]
        if top.kind == ELEMENT and top.name in _TABLE_FOSTER:
            _insert_before_table(el)
        else:
            el.parent = top
            top.children.append(el)
        if push:
            stack.append(el)

    def _insert_into(parent: Node, el: Node) -> None:
        el.parent = parent
        parent.children.append(el)

    # --- active formatting machinery ------------------------------
    def _clear_afe_to_marker() -> None:
        while afe:
            if afe.pop() is _AFE_MARKER:
                return

    def _pop_one() -> None:
        n = stack.pop()
        if n.kind == ELEMENT and n.name in _MARKER_OWNERS:
            _clear_afe_to_marker()

    def _pop_stack(i: int) -> None:
        popped = stack[i:]
        del stack[i:]
        for n in reversed(popped):
            if n.kind == ELEMENT and n.name in _MARKER_OWNERS:
                _clear_afe_to_marker()

    def _reconstruct() -> None:
        if not afe:
            return
        last = afe[-1]
        if last is _AFE_MARKER:
            return
        # membership by reverse scan: the last afe entry, when open,
        # sits near the stack top — O(1) in practice vs building an
        # id-set of the whole stack on every insertion
        for n in reversed(stack):
            if n is last:
                return
        on_stack = {id(n) for n in stack}
        i = len(afe) - 1
        while i > 0:
            e = afe[i - 1]
            if e is _AFE_MARKER or id(e) in on_stack:
                break
            i -= 1
        for j in range(i, len(afe)):
            clone = _clone_element(afe[j])
            _insert_appropriate(clone, True)
            afe[j] = clone

    def _generic_end(tag: str) -> None:
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == tag:
                _pop_stack(i)
                return
        errors.append(f"unmatched end tag </{tag}>")

    def _adoption_agency(subject: str) -> None:
        """The spec's adoption agency algorithm (misnested formatting:
        <b><p>x</b>y). Outer loop capped at 8, inner at 3 as written;
        element moves preserve text document order (only whole
        subtrees and element boundaries move)."""
        top = stack[-1]
        if top.kind == ELEMENT and top.name == subject:
            if afe and afe[-1] is top:
                # well-nested close of the just-opened formatting
                # element (the overwhelmingly common case): fe is the
                # current node, so no furthest block can exist above
                # it — the outer loop would find si = len(stack)-1,
                # no fb, and do exactly this pop + afe removal
                stack.pop()
                del afe[-1]
                return
            in_afe = False
            for e in afe:
                if e is top:
                    in_afe = True
                    break
            if not in_afe:
                _pop_one()
                return
        for _outer in range(8):
            fe = None
            fi = -1
            for i in range(len(afe) - 1, -1, -1):
                if afe[i] is _AFE_MARKER:
                    break
                if afe[i].name == subject:
                    fe, fi = afe[i], i
                    break
            if fe is None:
                _generic_end(subject)
                return
            si = -1
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is fe:
                    si = i
                    break
            if si < 0:
                errors.append(f"</{subject}> formatting element closed")
                del afe[fi]
                return
            if any(
                stack[j].name in _DEFAULT_SCOPE_STOP
                for j in range(si + 1, len(stack))
            ):
                errors.append(f"</{subject}> out of scope")
                return
            fb = None
            fb_si = -1
            for j in range(si + 1, len(stack)):
                if stack[j].name in _SPECIAL_CAT:
                    fb, fb_si = stack[j], j
                    break
            if fb is None:
                _pop_stack(si)
                del afe[fi]
                return
            ca = stack[si - 1]
            bookmark = fi
            last = fb
            node_si = fb_si
            inner = 0
            while True:
                inner += 1
                node_si -= 1
                node = stack[node_si]
                if node is fe:
                    break
                in_afe = any(e is node for e in afe)
                if inner > 3 and in_afe:
                    bi = next(
                        k for k, e in enumerate(afe) if e is node
                    )
                    del afe[bi]
                    if bi < bookmark:
                        bookmark -= 1
                    in_afe = False
                if not in_afe:
                    del stack[node_si]
                    continue
                clone = _clone_element(node)
                ai = next(k for k, e in enumerate(afe) if e is node)
                afe[ai] = clone
                stack[node_si] = clone
                node = clone
                if last is fb:
                    bookmark = ai + 1
                _detach(last)
                node.children.append(last)
                last.parent = node
                last = node
            _detach(last)
            if ca.kind == ELEMENT and ca.name in _TABLE_FOSTER:
                _insert_before_table(last)
            else:
                _merge_append(ca, last)
            clone = _clone_element(fe)
            for c in fb.children:
                c.parent = clone
            clone.children = fb.children
            fb.children = [clone]
            clone.parent = fb
            fi2 = next(k for k, e in enumerate(afe) if e is fe)
            del afe[fi2]
            if fi2 < bookmark:
                bookmark -= 1
            afe.insert(bookmark, clone)
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is fe:
                    del stack[i]
                    break
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is fb:
                    stack.insert(i + 1, clone)
                    break

    def _flush_tt() -> None:
        data = "".join(pending_tt)
        pending_tt.clear()
        if all(c in _WS for c in data):
            _merge_append(stack[-1], Node(TEXT, text=data))
            return
        # spec: a pending run with any non-space character is wholly
        # reprocessed with foster parenting enabled
        errors.append("foster-parented table character data")
        _reconstruct()
        top = stack[-1]
        node_ = Node(TEXT, text=data)
        if top.kind == ELEMENT and top.name in _TABLE_FOSTER:
            _insert_before_table(node_)
        else:
            _merge_append(top, node_)

    def _ensure_html() -> None:
        nonlocal html_el
        if html_el is None:
            html_el = Node(ELEMENT, name="html")
            html_el.parent = root
            root.children.append(html_el)
            stack.append(html_el)

    def _open_head(el: Node | None = None) -> None:
        nonlocal head_el, head_open
        _ensure_html()
        if head_el is None:
            head_el = el if el is not None else Node(ELEMENT, name="head")
            head_el.parent = html_el
            html_el.children.append(head_el)
            stack.append(head_el)
            head_open = True

    def _ensure_body(el: Node | None = None) -> None:
        nonlocal body_el, head_open, head_reopened
        _ensure_html()
        if head_el is None:
            _open_head()
        if head_reopened:
            # a reopened head (after-head metadata) must never stay
            # on the stack below body (ADVICE r4): pop it first
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is head_el:
                    del stack[i:]
                    break
            head_reopened = False
        if head_open:
            # pop the head (and anything left open inside it)
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is head_el:
                    del stack[i:]
                    break
            head_open = False
        if body_el is None:
            body_el = el if el is not None else Node(ELEMENT, name="body")
            body_el.parent = html_el
            html_el.children.append(body_el)
            stack.append(body_el)

    def _close_p_in_button_scope() -> None:
        for i in range(len(stack) - 1, 0, -1):
            name = stack[i].name
            if name == "p":
                _pop_stack(i)
                return
            if name in _BUTTON_SCOPE_STOP:
                return

    def _close_listitem(kinds: frozenset) -> None:
        # the spec's li/dd/dt loop: close an open item unless a
        # special-category element (other than address/div/p)
        # intervenes
        for i in range(len(stack) - 1, 0, -1):
            name = stack[i].name
            if name in kinds:
                _pop_stack(i)
                return
            if name in _SPECIAL_CAT and name not in ("address", "div", "p"):
                return

    def _nearest_table_index() -> int:
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == "table":
                return i
        return -1

    def _pop_to_names(names: frozenset, floor: int) -> None:
        # pop until the top is one of ``names``; never below ``floor``
        while len(stack) - 1 > floor and stack[-1].name not in names:
            _pop_one()

    def _start_special(name: str, attrs, push: bool) -> None:
        nonlocal head_open
        if name == "html":
            if html_el is None:
                el = _make_element(name, attrs)
                el.parent = root
                root.children.append(el)
                stack.append(el)
                # bind the implied-structure pointers to the real tag
                _bind_html(el)
            else:
                # spec: merge attrs not already present onto the
                # existing element (ADVICE r4)
                for a, v in attrs:
                    if a not in html_el.attrs:
                        html_el.attrs[a] = v if v is not None else ""
            return
        if name == "head":
            if head_el is None:
                _ensure_html()
                _open_head(_make_element(name, attrs))
            else:
                for a, v in attrs:
                    if a not in head_el.attrs:
                        head_el.attrs[a] = v if v is not None else ""
            return
        if name == "body":
            if body_el is None:
                _ensure_body(_make_element(name, attrs))
            else:
                for a, v in attrs:
                    if a not in body_el.attrs:
                        body_el.attrs[a] = v if v is not None else ""
            return
        if name == "frame":
            return  # in-body: ignored
        if body_el is None:
            _ensure_body()
        if name in _TABLE_TAGS and name != "table":
            ti = _nearest_table_index()
            if ti < 0:
                errors.append(f"stray table tag <{name}> ignored")
                return
            if name == "tr":
                _pop_to_names(_ROW_GROUPS | {"table"}, ti - 1)
                if stack[-1].name == "table":
                    _insert(Node(ELEMENT, name="tbody"), True)
                _insert(_make_element(name, attrs), push)
            elif name in _CELLS:
                _pop_to_names(_ROW_GROUPS | {"table", "tr"}, ti - 1)
                if stack[-1].name == "table":
                    _insert(Node(ELEMENT, name="tbody"), True)
                if stack[-1].name in _ROW_GROUPS:
                    _insert(Node(ELEMENT, name="tr"), True)
                _insert(_make_element(name, attrs), push)
                if push:
                    afe.append(_AFE_MARKER)
            elif name in _ROW_GROUPS or name in ("caption", "colgroup"):
                _pop_to_names(frozenset(("table",)), ti - 1)
                _insert(_make_element(name, attrs), push)
                if name == "caption" and push:
                    afe.append(_AFE_MARKER)
            else:  # col
                _pop_to_names(frozenset(("table", "colgroup")), ti - 1)
                if stack[-1].name == "table":
                    _insert(Node(ELEMENT, name="colgroup"), True)
                _insert(_make_element(name, attrs), False)
            return
        if name in _P_CLOSERS:
            if name == "li":
                _close_listitem(frozenset(("li",)))
            elif name in ("dd", "dt"):
                _close_listitem(frozenset(("dd", "dt")))
            elif name == "table" and stack[-1].name in _TABLE_MODES:
                # in-table <table>: acts as </table> then reprocess —
                # sibling tables, never table-in-table (unless in a cell)
                ti = _nearest_table_index()
                if ti > 0:
                    _pop_stack(ti)
            _close_p_in_button_scope()
            if name in _HEADINGS and stack[-1].name in _HEADINGS:
                stack.pop()  # a heading closes a current heading
            _insert_appropriate(_make_element(name, attrs), push)
            return
        if name == "option":
            if stack[-1].name == "option":
                stack.pop()
            _reconstruct()
            _insert_appropriate(_make_element(name, attrs), push)
            return
        if name == "optgroup":
            if stack[-1].name == "option":
                stack.pop()
            if stack[-1].name == "optgroup":
                stack.pop()
            _reconstruct()
            _insert_appropriate(_make_element(name, attrs), push)
            return
        if name == "button":
            for i in range(len(stack) - 1, 0, -1):
                nm = stack[i].name
                if nm == "button":
                    _pop_stack(i)
                    break
                if nm in _DEFAULT_SCOPE_STOP:
                    break
            _reconstruct()
            _insert_appropriate(_make_element(name, attrs), push)
            return
        _insert_appropriate(_make_element(name, attrs), push)  # pragma: no cover

    def _bind_html(el: Node) -> None:
        nonlocal html_el
        html_el = el

    def _end_special(tag: str) -> None:
        nonlocal head_open
        if tag == "p":
            for i in range(len(stack) - 1, 0, -1):
                name = stack[i].name
                if name == "p":
                    _pop_stack(i)
                    return
                if name in _BUTTON_SCOPE_STOP:
                    break
            # </p> with no open p: acts as <p></p> (in-body rule)
            if body_el is None:
                _ensure_body()
            _insert_appropriate(Node(ELEMENT, name="p"), False)
            return
        if tag == "br":  # </br> acts as <br>
            if body_el is None:
                _ensure_body()
            _reconstruct()
            _insert_appropriate(Node(ELEMENT, name="br"), False)
            return
        if tag in ("body", "html"):
            # content after </body>/</html> still belongs to body
            if body_el is None:
                _ensure_body()
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is body_el:
                    _pop_stack(i + 1)
                    return
            return
        # tag == "head"
        if head_open:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i] is head_el:
                    del stack[i:]
                    break
            head_open = False
        elif head_el is None:
            _open_head()  # </head> implies an (empty) head...
            stack.pop()  # ...which closes immediately
            head_open = False

    for ev in events:
        k = ev[0]
        if pending_tt and k != "d":
            _flush_tt()
        if k == "d":
            top = stack[-1]
            if top.kind == ELEMENT and top.name in _TABLE_FOSTER:
                # in-table character run: buffer until the next tag
                # (whitespace-only runs stay in the table, anything
                # else fosters whole)
                pending_tt.append(ev[1])
                continue
            if body_el is None and (
                top is root or top is html_el or top is head_el
            ):
                data = ev[1]
                if all(c in _WS for c in data):
                    pass  # whitespace may sit at the current level
                else:
                    _ensure_body()
                    top = stack[-1]
            if afe and body_el is not None and top is not head_el:
                _reconstruct()
                top = stack[-1]
            ch = top.children
            if ch and ch[-1].kind == TEXT:
                ch[-1].text += ev[1]
            else:
                node = Node(TEXT, text=ev[1])
                node.parent = top
                ch.append(node)
        elif k == "s" or k == "x":
            name = ev[1]
            push = k == "s" and name not in VOID_ELEMENTS
            if name in _SPECIAL_START:
                _start_special(name, ev[2], push)
                continue
            if body_el is None:
                top = stack[-1]
                if top is root or top is html_el or top is head_el:
                    # after-head metadata per spec EXCLUDES noscript
                    # (ADVICE r4): an after-head <noscript> opens body
                    if name in _HEAD_ONLY and not (
                        name == "noscript"
                        and head_el is not None and not head_open
                    ):
                        if head_el is not None and not head_open:
                            # after-head metadata: the spec pushes the
                            # head back, processes in-head, pops it
                            if push:
                                stack.append(head_el)
                                head_reopened = True
                            else:
                                _insert_into(head_el,
                                             _make_element(name, ev[2]))
                                continue
                        else:
                            _open_head()
                    else:
                        _ensure_body()
            if name in _FORMATTING:
                if name == "a":
                    # <a> with an a still in the list: run the
                    # adoption agency, then drop the stale entry
                    for i in range(len(afe) - 1, -1, -1):
                        if afe[i] is _AFE_MARKER:
                            break
                        if afe[i].name == "a":
                            old = afe[i]
                            errors.append("nested <a> adopted")
                            _adoption_agency("a")
                            for j in range(len(afe) - 1, -1, -1):
                                if afe[j] is old:
                                    del afe[j]
                                    break
                            for j in range(len(stack) - 1, 0, -1):
                                if stack[j] is old:
                                    del stack[j]
                                    break
                            break
                elif name == "nobr":
                    if any(
                        n.name == "nobr" for n in stack[1:]
                        if n.kind == ELEMENT
                    ):
                        _adoption_agency("nobr")
                _reconstruct()
                el = _make_element(name, ev[2])
                # Noah's Ark: at most 3 identical entries since the
                # last marker
                same = []
                for e in reversed(afe):
                    if e is _AFE_MARKER:
                        break
                    if e.name == name and e.attrs == el.attrs:
                        same.append(e)
                if len(same) >= 3:
                    oldest = same[-1]
                    for j, e in enumerate(afe):
                        if e is oldest:
                            del afe[j]
                            break
                _insert_appropriate(el, push)
                if push:
                    afe.append(el)
                continue
            if name in ("applet", "object", "marquee"):
                _reconstruct()
                _insert_appropriate(_make_element(name, ev[2]), push)
                if push:
                    afe.append(_AFE_MARKER)
                continue
            # any other start tag: reconstruct, then insert at the
            # appropriate (foster-aware) place
            if afe and body_el is not None and stack[-1] is not head_el:
                _reconstruct()
            _insert_appropriate(_make_element(name, ev[2]), push)
        elif k == "e":
            tag = ev[1]
            if tag in _SPECIAL_END:
                _end_special(tag)
                continue
            if tag in _FORMATTING:
                _adoption_agency(tag)
                continue
            _generic_end(tag)
            if head_reopened and stack[-1] is head_el:
                stack.pop()
                head_reopened = False
        elif k == "c":
            stack[-1].append(Node(COMMENT, text=ev[1]))
        elif k == "!":
            d = ev[1]
            stack[-1].append(
                Node(DOCTYPE, text=d.split(None, 1)[1] if " " in d else d)
            )
        else:  # "?"
            stack[-1].append(Node(PI, text=ev[1].rstrip("?")))
    if pending_tt:
        _flush_tt()
    return root, errors


class Html:
    """Parsed document (reference: Html struct, html/mod.rs:24-34).

    ``errors`` collects recoverable parse problems; parsing never
    raises (html/mod.rs:19-22).
    """

    __slots__ = ("root", "errors")

    def __init__(self, root: Node, errors: list[str]):
        self.root = root
        self.errors = errors

    @classmethod
    def parse_document(cls, html: str | bytes) -> "Html":
        # both tokenizer paths build through the same _build_tree, so
        # the html5 insertion rules apply identically whatever tokenized
        root, errors = _build_tree(_events(html))
        return cls(root, errors)

    def select(self, selector_str: str):
        from swspark.extract.selectors import select

        return select(self.root, selector_str)

    def root_element(self) -> Node | None:
        for c in self.root.children:
            if c.kind == ELEMENT:
                return c
        return None
