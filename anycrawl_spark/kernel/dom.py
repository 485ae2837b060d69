"""Minimal HTML DOM + CSS-selector engine (stdlib-only).

This is the substrate for the extraction kernel (SURVEY.md §2.3 T1). The
reference parses pages with cheerio (htmlparser2); we re-express the same
observable behavior on Python's stdlib ``html.parser`` so the kernel has zero
native dependencies and is fully deterministic inside Arrow-batched UDFs.

Only the selector features actually used by the reference are implemented
(tag, ``.class``, ``#id``, ``[attr]``, ``[attr='value']``, compound selectors,
descendant combinator, comma lists) — see
``/root/reference/packages/scrape/src/core/transformers/HTMLTransformer.ts:31-165``
and ``/root/reference/packages/search/src/engines/Google.ts:201-257``.

``parse_html`` is the one parser the kernel uses: a flat regex tokenizer
driving ``_TreeBuilder``. ``_parse_stdlib`` drives the same builder from
``html.parser`` and is kept as the reference the tokenizer is tested
against (tests/test_kernel.py::TestDomBackends).

## Node contract

The kernel walks (transformer/markdown/text/ocr) rely on exactly this
surface, and check node kinds by class identity:

- ``Element``: ``tag`` (lowercase str), ``attrs`` (dict, lowercase keys,
  first occurrence wins, valueless attrs -> ""), ``children`` (list of
  nodes in document order), ``parent``; methods ``append``,
  ``remove_child``, ``detach``, ``get``, ``text_content``,
  ``element_children``, ``iter`` (pre-order descendants).
- ``Text``: ``data`` (entity-decoded), ``parent``.
- ``Comment``: ``data``, ``parent`` (retained in the tree; serialization
  and text render skip it).
- Root: a synthetic ``Element('#root')`` wrapping the document.

Tree-building semantics: void elements never take children; ``<p>``
implicit close set (``_P_CLOSERS``) and sibling implicit closes
(li/dt/dd/tr/td/th/...); htmlparser2-style tolerance (stray ``</br>``
emits ``<br>``, unmatched ``</p>`` synthesizes an empty ``<p>``, implicit
closes cascade, tolerant end-tag forms like ``</b extra>``, depth cap at
``MAX_TREE_DEPTH``); rawtext elements (script/style) swallow markup until
their end tag; entities decode in text and attribute values, &-tolerant.
"""

from __future__ import annotations

import re
from html import escape as _html_escape
from html.parser import HTMLParser

VOID_ELEMENTS = {
    "area", "base", "br", "col", "command", "embed", "hr", "img", "input",
    "keygen", "link", "meta", "param", "source", "track", "wbr",
}

# Elements whose open tag implicitly closes a currently-open <p>
_P_CLOSERS = {
    "address", "article", "aside", "blockquote", "details", "div", "dl",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol", "p",
    "pre", "section", "table", "ul",
}

# tag -> set of sibling tags whose start implicitly closes it
_IMPLICIT_CLOSE = {
    "li": {"li"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "tr": {"tr"},
    "td": {"td", "th", "tr"},
    "th": {"td", "th", "tr"},
    "thead": {"tbody", "tfoot"},
    "tbody": {"tbody", "tfoot"},
    "option": {"option", "optgroup"},
}

_RAWTEXT = {"script", "style"}

# tags that, as the open-stack top, can implicitly close on some start tag
_CLOSER_TOPS = {"p", *_IMPLICIT_CLOSE}

# Open-element stack cap: beyond this, new elements attach flat instead of
# nesting (browser-like). Bounds recursion depth in the (recursive) clean/
# serialize/render walks — 512 levels x ~3 frames/level stays well under
# the interpreter recursion limit raised by udfs.py.
MAX_TREE_DEPTH = 512


class Node:
    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Element | None = None


class Text(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        self.parent = None      # inlined Node.__init__ (hot allocation path)
        self.data = data

    def __repr__(self) -> str:  # pragma: no cover
        return f"Text({self.data!r})"


class Comment(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        self.parent = None
        self.data = data

    def __repr__(self) -> str:  # pragma: no cover
        return f"Comment({self.data!r})"


class Element(Node):
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None) -> None:
        self.parent = None      # inlined Node.__init__ (hot allocation path)
        self.tag = tag
        self.attrs: dict[str, str] = attrs if attrs is not None else {}
        self.children: list[Node] = []

    # -- tree ops -----------------------------------------------------------
    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)

    def remove_child(self, node: Node) -> None:
        self.children.remove(node)
        node.parent = None

    def detach(self) -> None:
        if self.parent is not None:
            self.parent.remove_child(self)

    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    # -- accessors mirroring DOM semantics ---------------------------------
    @property
    def text_content(self) -> str:
        out: list[str] = []
        _collect_text(self, out)
        return "".join(out)

    def element_children(self) -> list[Element]:
        return [c for c in self.children if isinstance(c, Element)]

    def iter(self):
        """Pre-order traversal over descendant elements (excluding self).
        Explicit stack — recursive generators pay O(depth) per yield."""
        stack = [c for c in reversed(self.children) if c.__class__ is Element]
        while stack:
            el = stack.pop()
            yield el
            for c in reversed(el.children):
                if c.__class__ is Element:
                    stack.append(c)

    def iter_nodes(self):
        """Pre-order traversal over all descendant nodes (excluding self)."""
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if node.__class__ is Element:
                stack.extend(reversed(node.children))

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.tag} {self.attrs}>"


def _collect_text(el: Element, out: list[str]) -> None:
    for c in el.children:
        if isinstance(c, Text):
            out.append(c.data)
        elif isinstance(c, Element):
            _collect_text(c, out)


def next_sibling(node: Node) -> Node | None:
    p = node.parent
    if p is None:
        return None
    idx = p.children.index(node)
    return p.children[idx + 1] if idx + 1 < len(p.children) else None


def prev_sibling(node: Node) -> Node | None:
    p = node.parent
    if p is None:
        return None
    idx = p.children.index(node)
    return p.children[idx - 1] if idx > 0 else None


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root")
        self.stack: list[Element] = [self.root]
        self._rawtext_tag: str | None = None

    # html.parser already handles rawtext (script/style) content as data
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attr_dict: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_dict:  # first occurrence wins (htmlparser2 behavior)
                attr_dict[k] = v if v is not None else ""
        self.start_fast(tag.lower(), attr_dict)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
        else:
            # <div/> in HTML is treated as an open tag by browsers/htmlparser2
            self.handle_starttag(tag, attrs)

    # fast-path entries for the flat tokenizer (_fast_feed): tag and attr
    # names arrive pre-lowercased and attrs pre-deduped into a dict — same
    # tree operations as handle_starttag/handle_endtag without re-lowering
    # or list→dict conversion.
    def start_fast(self, tag: str, attr_dict: dict[str, str]) -> None:
        # gate: only tops that can imply-close (p / list/table/option tags)
        # enter the close loop — one set probe replaces a call + two dict
        # lookups for the dominant div/section/body tops
        if self.stack[-1].tag in _CLOSER_TOPS:
            self._implicit_close(tag)
        el = Element(tag, attr_dict)
        top = self.stack[-1]        # Element.append inlined (hot path)
        el.parent = top
        top.children.append(el)
        if tag not in VOID_ELEMENTS and len(self.stack) < MAX_TREE_DEPTH:
            # past the depth cap new elements attach flat (children land on
            # the capped ancestor) — browsers cap nesting similarly, and an
            # unbounded tree would blow Python's recursion limit in the
            # (recursive) transform/serialize/render walks on adversarial
            # pages like '<div>'*100000
            self.stack.append(el)

    def end_fast(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            if tag == "br":
                # htmlparser2 non-xmlMode: a stray </br> EMITS a <br>
                # element — dropping it merges words across the intended
                # line break ('x</br>y' must not read 'xy')
                self.start_fast("br", {})
            return
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        if tag == "p":
            # htmlparser2 non-xmlMode: an unmatched </p> synthesizes an
            # empty <p> element (pop only if start_fast actually pushed —
            # at the depth cap it does not)
            depth = len(self.stack)
            self.start_fast("p", {})
            if len(self.stack) > depth:
                del self.stack[-1:]
        # other unmatched end tags: ignore

    def handle_endtag(self, tag: str) -> None:
        self.end_fast(tag.lower())

    def handle_data(self, data: str) -> None:
        if data:
            node = Text(data)       # Element.append inlined (hot path)
            top = self.stack[-1]
            node.parent = top
            top.children.append(node)

    def handle_comment(self, data: str) -> None:
        self.stack[-1].append(Comment(data))

    def handle_decl(self, decl: str) -> None:
        pass  # DOCTYPE dropped; serializer does not re-emit it

    def _implicit_close(self, tag: str) -> None:
        # loop until the top no longer implies-closes — htmlparser2 runs
        # `while (top in openImpliesClose[name])`, so e.g. a new <tr> after
        # an open <td> closes td THEN tr (single-pop nested the rows)
        while True:
            top = self.stack[-1].tag
            if top == "p" and tag in _P_CLOSERS:
                del self.stack[-1:]
                continue
            closers = _IMPLICIT_CLOSE.get(top)
            if closers and tag in closers:
                del self.stack[-1:]
                continue
            break


# ---------------------------------------------------------------------------
# Fast tokenizer
#
# html.parser's goahead() is a char-by-char state machine with several
# function calls per token (updatepos, parse_starttag, check_for_whole_...)
# — ~25% of extraction kernel time. This tokenizer drives the SAME
# _TreeBuilder handlers with a flat scan, reusing html.parser's own
# module-level tagfind_tolerant/attrfind_tolerant regexes so attribute and
# tag-name semantics are identical by construction. Text/attr charrefs
# decode via html.unescape exactly as convert_charrefs=True does; script/
# style content is raw until the case-insensitive closing tag (html.parser
# set_cdata_mode parity). Tree parity with the stdlib parser is asserted
# over every fixture page + malformed edge case in tests
# (test_kernel.py::TestDomBackends).
# ---------------------------------------------------------------------------

from html import unescape as _unescape  # noqa: E402
from html.parser import attrfind_tolerant as _attrfind  # noqa: E402
from html.parser import tagfind_tolerant as _tagfind  # noqa: E402

_ENDTAG_RX = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_RAW_END = {t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in _RAWTEXT}


def _feed_tail(handle_data, pieces: list[str]) -> None:
    """html.parser's EOF fallback for a page tail with no '>' left, where
    no markup can close: ``pieces`` is the tail split at '<' (without the
    leading empty piece). A '<' that opens markup (letter, '/', '!', '?')
    is literal text through the next '<'; a lone '<', or one with no '<'
    after it, is its own text node before the text that follows."""
    last = len(pieces) - 1
    for j, p in enumerate(pieces):
        c = p[:1]
        if j < last and c and ("a" <= c <= "z" or "A" <= c <= "Z"
                               or c in "/!?"):
            text = "<" + p
            handle_data(_unescape(text) if "&" in text else text)
        else:
            handle_data("<")
            if p:
                handle_data(_unescape(p) if "&" in p else p)


def _fast_feed(core: "_TreeBuilder", rawdata: str) -> None:
    i, n = 0, len(rawdata)
    find = rawdata.find
    handle_data = core.handle_data
    # every scan below ends at a '>' (or '-->') it then consumes, so the
    # feed stays linear; past the last '>' nothing can close, and past a
    # failed '-->' search no comment can — both known once, not re-searched
    # to EOF per '<' (html.parser re-scans there: CVE-2025-6069)
    last_gt = rawdata.rfind(">")
    comments_open = True
    while i < n:
        lt = find("<", i)
        if lt < 0:
            text = rawdata[i:]
            handle_data(_unescape(text) if "&" in text else text)
            break
        if lt > i:
            text = rawdata[i:lt]
            handle_data(_unescape(text) if "&" in text else text)
        if lt > last_gt:
            _feed_tail(handle_data, rawdata[lt + 1:].split("<"))
            break
        c = rawdata[lt + 1:lt + 2]
        if "a" <= c <= "z" or "A" <= c <= "Z":
            m = _tagfind.match(rawdata, lt + 1)
            tag = m.group(1).lower()
            k = m.end()
            # attrs built as the final dict directly (first occurrence wins,
            # mirroring handle_starttag's list→dict conversion)
            attrs: dict[str, str] = {}
            if rawdata.startswith(">", k):      # attr-less tag fast path
                core.start_fast(tag, attrs)
                i = k + 1
                if tag in _RAWTEXT:
                    em = _RAW_END[tag].search(rawdata, i)
                    if em:
                        if em.start() > i:
                            handle_data(rawdata[i:em.start()])
                        core.end_fast(tag)
                        i = em.end()
                    else:
                        if i < n:
                            handle_data(rawdata[i:])
                        break
                continue
            while k < n:
                am = _attrfind.match(rawdata, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif (attrvalue[:1] == "'" == attrvalue[-1:]
                      or attrvalue[:1] == '"' == attrvalue[-1:]):
                    attrvalue = attrvalue[1:-1]
                if attrvalue:
                    attrvalue = _unescape(attrvalue)
                attrname = attrname.lower()
                if attrname not in attrs:
                    attrs[attrname] = attrvalue if attrvalue is not None else ""
                k = am.end()
            gt = find(">", k)
            if gt < 0:
                # the attribute scan ran past the last '>' (it sat inside
                # a quoted value): the rest is literal data. html.parser
                # resumes after that '>' and rescans, quadratic in the
                # number of such tags
                text = rawdata[lt:]
                handle_data(_unescape(text) if "&" in text else text)
                break
            end = rawdata[k:gt + 1].strip()
            if end not in (">", "/>"):  # junk before '>': literal data
                handle_data(rawdata[lt:gt + 1])
                i = gt + 1
                continue
            # "/>" == start tag here: <div/> is an open tag in HTML and void
            # elements never push the stack either way (handle_startendtag
            # parity)
            core.start_fast(tag, attrs)
            i = gt + 1
            if end == "/>":
                continue
            if tag in _RAWTEXT:
                em = _RAW_END[tag].search(rawdata, i)
                if em:
                    if em.start() > i:
                        handle_data(rawdata[i:em.start()])  # raw, no unescape
                    core.end_fast(tag)
                    i = em.end()
                else:
                    if i < n:
                        handle_data(rawdata[i:])
                    break
        elif c == "/":
            m = _ENDTAG_RX.match(rawdata, lt)
            if m:
                core.end_fast(m.group(1).lower())
                i = m.end()
            else:
                # html.parser-tolerant forms: '</b junk>' still closes b
                # (tagfind_tolerant then skip to '>'); no tag name → bogus
                # comment ('</123>' emits comment '123'); '</>' is consumed
                # silently; unterminated at EOF is dropped
                nm = _tagfind.match(rawdata, lt + 2)
                if nm:
                    gt = find(">", nm.end())
                    if gt < 0:
                        i = n
                    else:
                        core.end_fast(nm.group(1).lower())
                        i = gt + 1
                elif rawdata.startswith("</>", lt):
                    i = lt + 3
                else:
                    gt = find(">", lt)
                    if gt < 0:
                        i = n
                    else:
                        core.handle_comment(rawdata[lt + 2:gt])
                        i = gt + 1
        elif c == "!":
            if rawdata.startswith("<!--", lt):
                end_c = find("-->", lt + 4) if comments_open else -1
                if end_c < 0:
                    # unterminated: literal text through the next '>'
                    # (there is one: lt < last_gt), as html.parser does
                    comments_open = False
                    i = find(">", lt + 1) + 1
                    text = rawdata[lt:i]
                    handle_data(_unescape(text) if "&" in text else text)
                    continue
                core.handle_comment(rawdata[lt + 4:end_c])
                i = end_c + 3
            else:  # declaration (DOCTYPE) — dropped, like handle_decl
                gt = find(">", lt)
                i = gt + 1 if gt >= 0 else n
        elif c == "?":  # processing instruction — ignored (handle_pi no-op)
            gt = find(">", lt)
            i = gt + 1 if gt >= 0 else n
        else:  # lone '<' (or at EOF): literal text
            handle_data("<")
            i = lt + 1


def _parse_stdlib(html: str) -> Element:
    """The reference parser: html.parser driving the same tree builder."""
    builder = _TreeBuilder()
    builder.feed(html or "")
    builder.close()
    return builder.root


def parse_html(html: str) -> Element:
    """Parse an HTML string into a DOM rooted at a synthetic ``#root``
    (the flat tokenizer above; node contract in the module docstring)."""
    builder = _TreeBuilder()
    _fast_feed(builder, html or "")
    return builder.root


# ---------------------------------------------------------------------------
# Serialization ($.html() equivalent)
# ---------------------------------------------------------------------------

def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return s.replace("&", "&amp;").replace('"', "&quot;")


def serialize(node: Node, *, _in_raw: bool = False) -> str:
    if isinstance(node, Text):
        return node.data if _in_raw else _escape_text(node.data)
    if isinstance(node, Comment):
        return f"<!--{node.data}-->"
    assert isinstance(node, Element)
    if node.tag == "#root":
        return "".join(serialize(c) for c in node.children)
    attrs = "".join(
        f' {k}' if v == "" else f' {k}="{_escape_attr(v)}"'
        for k, v in node.attrs.items()
    )
    if node.tag in VOID_ELEMENTS:
        return f"<{node.tag}{attrs}>"
    raw = node.tag in _RAWTEXT
    inner = "".join(serialize(c, _in_raw=raw) for c in node.children)
    return f"<{node.tag}{attrs}>{inner}</{node.tag}>"


def inner_html(el: Element) -> str:
    raw = el.tag in _RAWTEXT
    return "".join(serialize(c, _in_raw=raw) for c in el.children)


# ---------------------------------------------------------------------------
# CSS selector engine (subset)
# ---------------------------------------------------------------------------

_COMPOUND_RE = re.compile(
    r"""
    (?P<tag>[a-zA-Z][\w-]*|\*)?
    (?P<rest>(?:
        \.[\w-]+ |
        \#[\w-]+ |
        \[[^\]]+\]
    )*)
    """,
    re.VERBOSE,
)

_PART_RE = re.compile(r"\.[\w-]+|\#[\w-]+|\[[^\]]+\]")
_ATTR_RE = re.compile(r"""\[\s*([\w-]+)\s*(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\]\s]+)))?\s*\]""")


class Compound:
    __slots__ = ("tag", "ids", "classes", "attrs")

    def __init__(self, tag: str | None, ids: list[str], classes: list[str],
                 attrs: list[tuple[str, str | None]]) -> None:
        self.tag = tag
        self.ids = ids
        self.classes = classes
        self.attrs = attrs

    def matches(self, el: Element) -> bool:
        if self.tag and self.tag != "*" and el.tag != self.tag:
            return False
        if self.ids and el.attrs.get("id") not in self.ids:
            return False
        if self.classes:
            el_classes = el.attrs.get("class", "").split()
            for c in self.classes:
                if c not in el_classes:
                    return False
        for name, value in self.attrs:
            if name not in el.attrs:
                return False
            if value is not None and el.attrs.get(name) != value:
                return False
        return True


def _parse_compound(token: str) -> Compound:
    m = _COMPOUND_RE.match(token)
    if not m or (m.end() != len(token)):
        raise ValueError(f"unsupported selector: {token!r}")
    tag = m.group("tag")
    ids: list[str] = []
    classes: list[str] = []
    attrs: list[tuple[str, str | None]] = []
    for part in _PART_RE.findall(m.group("rest") or ""):
        if part.startswith("."):
            classes.append(part[1:])
        elif part.startswith("#"):
            ids.append(part[1:])
        else:
            am = _ATTR_RE.match(part)
            if not am:
                raise ValueError(f"unsupported attribute selector: {part!r}")
            value = am.group(2) if am.group(2) is not None else (
                am.group(3) if am.group(3) is not None else am.group(4))
            attrs.append((am.group(1), value))
    return Compound(tag.lower() if tag else None, ids, classes, attrs)


_SELECTOR_CACHE: dict[str, list[list[Compound]]] = {}


def parse_selector(selector: str) -> list[list[Compound]]:
    """Parse ``"a h3, div.x"`` into a list of descendant-chains."""
    cached = _SELECTOR_CACHE.get(selector)
    if cached is not None:
        return cached
    chains: list[list[Compound]] = []
    for alt in selector.split(","):
        alt = alt.strip()
        if not alt:
            continue
        chains.append([_parse_compound(tok) for tok in alt.split()])
    _SELECTOR_CACHE[selector] = chains
    return chains


def _chain_matches(el: Element, chain: list[Compound]) -> bool:
    if not chain[-1].matches(el):
        return False
    # match remaining compounds against ancestors (descendant combinator)
    idx = len(chain) - 2
    cur = el.parent
    while idx >= 0 and cur is not None:
        if cur.tag != "#root" and chain[idx].matches(cur):
            idx -= 1
        cur = cur.parent
    return idx < 0


def matches(el: Element, selector: str) -> bool:
    return any(_chain_matches(el, chain) for chain in parse_selector(selector))


# Per-selector compiled fast paths: a frozenset of tags when every
# alternative is a bare tag name ("script, style, noscript"), else None.
_TAGSET_CACHE: dict[str, frozenset | None] = {}


def _tagset_for(selector: str, chains: list[list[Compound]]) -> frozenset | None:
    cached = _TAGSET_CACHE.get(selector, False)
    if cached is not False:
        return cached
    tags = None
    if all(
        len(chain) == 1
        and chain[0].tag and chain[0].tag != "*"
        and not chain[0].ids and not chain[0].classes and not chain[0].attrs
        for chain in chains
    ):
        tags = frozenset(chain[0].tag for chain in chains)
    _TAGSET_CACHE[selector] = tags
    return tags


def select(root: Element, selector: str) -> list[Element]:
    """All descendant elements matching the selector, in document order."""
    chains = parse_selector(selector)
    tags = _tagset_for(selector, chains)
    if tags is not None:  # bare-tag union: one walk, one set test per element
        return [el for el in root.iter() if el.tag in tags]
    out: list[Element] = []
    for el in root.iter():
        if any(_chain_matches(el, chain) for chain in chains):
            out.append(el)
    return out


class CompoundIndex:
    """Index of single-compound selectors for one-pass matching: an element
    only tests compounds whose primary key (tag / class / id) it carries,
    so chrome-free elements match in O(#classes) dict lookups instead of
    scanning the whole selector list."""

    def __init__(self, compounds: list[Compound]) -> None:
        self.by_tag: dict[str, list[Compound]] = {}
        self.by_class: dict[str, list[Compound]] = {}
        self.by_id: dict[str, list[Compound]] = {}
        self.by_attr: dict[str, list[Compound]] = {}
        self.rest: list[Compound] = []
        for c in compounds:
            if c.tag and c.tag != "*":
                self.by_tag.setdefault(c.tag, []).append(c)
            elif c.classes:
                self.by_class.setdefault(c.classes[0], []).append(c)
            elif c.ids:
                self.by_id.setdefault(c.ids[0], []).append(c)
            elif c.attrs:
                self.by_attr.setdefault(c.attrs[0][0], []).append(c)
            else:
                self.rest.append(c)

    def matches(self, el: Element) -> bool:
        for c in self.by_tag.get(el.tag, ()):  # noqa: B905
            if c.matches(el):
                return True
        attrs = el.attrs
        if "class" in attrs:
            for cls in attrs["class"].split():
                for c in self.by_class.get(cls, ()):
                    if c.matches(el):
                        return True
        if "id" in attrs:
            for c in self.by_id.get(attrs["id"], ()):
                if c.matches(el):
                    return True
        if self.by_attr:
            for name, cands in self.by_attr.items():
                if name in attrs:
                    for c in cands:
                        if c.matches(el):
                            return True
        for c in self.rest:
            if c.matches(el):
                return True
        return False


def parse_compound_list(selectors: list[str]) -> list[Compound]:
    """Compile a list of single-compound selectors (no combinators) for
    one-pass matching."""
    out = []
    for sel in selectors:
        chains = parse_selector(sel)
        for chain in chains:
            if len(chain) != 1:
                raise ValueError(f"not a single compound: {sel!r}")
            out.append(chain[0])
    return out


def select_one(root: Element, selector: str) -> Element | None:
    chains = parse_selector(selector)
    for el in root.iter():
        if any(_chain_matches(el, chain) for chain in chains):
            return el
    return None
