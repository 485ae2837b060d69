"""HTML → Markdown conversion (SURVEY.md §2.3 T10-T13), byte-exact contract.

Re-implements the reference's ``htmlToMarkdown``
(``/root/reference/packages/libs/src/html-to-markdown.ts:98-457``): the
Turndown conversion algorithm (public MIT library semantics: whitespace
collapse, rule resolution, flanking whitespace, newline-joining) configured
with atx headings / ``---`` hr / ``-`` bullets / fenced code / inlined links,
the GFM plugin (tables, strikethrough, task lists), the reference's nine
custom rules, and its pre/post-processing passes — all in pure Python so it
runs inside Arrow-batched UDFs with no JS runtime.

Rule-for-rule citations are inline below. Order of post-processing passes is
semantic (html-to-markdown.ts:432-438): normalizeBracketWrappedImages →
normalizeLinkTextWhitespace → postProcessMarkdown.
"""

from __future__ import annotations

import re

from .dom import (
    Comment,
    Element,
    Node,
    Text,
    next_sibling,
    parse_html,
    prev_sibling,
    serialize,
)

BLOCK_ELEMENTS = {
    "address", "article", "aside", "audio", "blockquote", "body", "canvas",
    "center", "dd", "dir", "div", "dl", "dt", "fieldset", "figcaption",
    "figure", "footer", "form", "frameset", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hgroup", "hr", "html", "isindex", "li", "main", "menu",
    "nav", "noframes", "noscript", "ol", "output", "p", "pre", "section",
    "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
}

VOID = {
    "area", "base", "br", "col", "command", "embed", "hr", "img", "input",
    "keygen", "link", "meta", "param", "source", "track", "wbr",
}

MEANINGFUL_WHEN_BLANK = {
    "a", "table", "thead", "tbody", "tfoot", "th", "td", "iframe", "script",
    "audio", "video",
}

_WS_RUN = re.compile(r"[ \r\n\t]+")

_REMOVED_TAGS = {"script", "style", "noscript", "meta", "link"}  # html-to-markdown.ts:208-214


_TC_CACHE: dict[int, str] = {}


def _tc(node: Node) -> str:
    """Memoized textContent — the tree is static during rule evaluation.
    Identity class checks throughout these helpers: the node contract
    (kernel/dom.py docstring) has the parser emit dom.Element/Text/
    Comment instances, so no subclass can appear."""
    cls = node.__class__
    if cls is Text:
        return node.data
    if cls is not Element:
        return ""
    key = id(node)
    cached = _TC_CACHE.get(key)
    if cached is None:
        children = node.children
        if len(children) == 1 and children[0].__class__ is Text:
            cached = children[0].data     # leaf fast path (a/li/p/hN)
        else:
            cached = "".join([_tc(c) for c in children])
        _TC_CACHE[key] = cached
    return cached


def _has_block_descendant(el: Element, tags: frozenset) -> bool:
    stack = list(el.children)
    while stack:
        n = stack.pop()
        if n.__class__ is Element:
            if n.tag in tags:
                return True
            stack.extend(n.children)
    return False


_DIV_BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "blockquote", "pre"])
_SECTION_BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "blockquote", "pre", "img"])


def _is_block(node: Node) -> bool:
    return node.__class__ is Element and node.tag in BLOCK_ELEMENTS


def _is_void(node: Node) -> bool:
    return node.__class__ is Element and node.tag in VOID


_BLANK_DISQUALIFIERS = VOID | MEANINGFUL_WHEN_BLANK
_DISQ_CACHE: dict[int, bool] = {}


def _has_disq_descendant(el: Element) -> bool:
    """Memoized ``_has_descendant(el, VOID | MEANINGFUL_WHEN_BLANK)`` —
    the two sets disqualify blankness identically, so one fused bottom-up
    scan replaces two per-node subtree walks (tree is static during rule
    evaluation; cache cleared with _TC_CACHE)."""
    key = id(el)
    cached = _DISQ_CACHE.get(key)
    if cached is None:
        cached = any(
            c.tag in _BLANK_DISQUALIFIERS or _has_disq_descendant(c)
            for c in el.children if c.__class__ is Element
        )
        _DISQ_CACHE[key] = cached
    return cached


def _is_blank(node: Node) -> bool:
    """Turndown isBlank: drives the blank-replacement rule."""
    if node.__class__ is not Element:
        return False
    if _is_void(node) or node.tag in MEANINGFUL_WHEN_BLANK:
        return False
    tc = _tc(node)
    if tc and not tc.isspace():     # == bool(tc.strip()), no allocation
        return False
    if _has_disq_descendant(node):
        return False
    return True


def _in_code(node: Node) -> bool:
    cur: Node | None = node
    while cur is not None:
        if cur.__class__ is Element and cur.tag == "code":
            return True
        cur = cur.parent
    return False


def _in_anchor(node: Node) -> bool:
    cur: Node | None = node
    while cur is not None:
        if cur.__class__ is Element and cur.tag == "a":
            return True
        cur = cur.parent
    return False


# ---------------------------------------------------------------------------
# Whitespace collapse (Turndown collapse-whitespace algorithm)
# ---------------------------------------------------------------------------

def _collapse_whitespace(root: Element) -> None:
    # Positional rendition of turndown's collapse.js traversal
    # (`current.firstChild || current.nextSibling || current.parentNode`).
    # The pointer-chasing original resolved every sibling step through
    # next_sibling() — an O(siblings) children.index() scan, quadratic on
    # wide nodes — so this walk carries an explicit (parent, child-index)
    # frame stack instead. Visit order and flag updates are identical:
    # every node gets an enter visit; an element whose children were
    # entered also gets an exit visit (turndown's climb returns the parent
    # node itself, re-running the element branch — a closing block resets
    # prevText/keep_leading_ws; skipping that revisit leaks a leading
    # space into text after a closed block, e.g. '<div><p>a</p> x</div>').
    # pre/code subtrees are never entered; root gets no exit visit.
    if not root.children:
        return

    prev_text: Text | None = None
    keep_leading_ws = False
    stack: list[list] = [[root, 0]]

    # element_visit inlined at both sites (enter + exit) — ~2 visits per
    # element on the hottest path, and the call + nonlocal overhead shows
    # up at corpus scale. Bodies are identical; node is always an Element.
    while stack:
        frame = stack[-1]
        parent, i = frame
        children = parent.children
        if i >= len(children):
            stack.pop()
            if parent is root:
                break
            tag = parent.tag                  # exit visit (climb revisit)
            if tag in BLOCK_ELEMENTS or tag == "br":
                if prev_text is not None and prev_text.data.endswith(" "):
                    prev_text.data = prev_text.data[:-1]
                prev_text = None
                keep_leading_ws = False
            elif tag in VOID or tag == "pre" or tag == "code":
                prev_text = None
                keep_leading_ws = True
            elif prev_text is not None:
                keep_leading_ws = False
            continue
        node = children[i]
        cls = node.__class__
        if cls is Text:
            d = node.data
            # identity fast path: without \t\r\n or a double space the
            # collapse regex can only replace single spaces with
            # themselves — four C-level scans beat the regex machinery
            if "\n" in d or "  " in d or "\t" in d or "\r" in d:
                text = _WS_RUN.sub(" ", d)
            else:
                text = d
            if (
                (prev_text is None or prev_text.data.endswith(" "))
                and not keep_leading_ws
                and text.startswith(" ")
            ):
                text = text[1:]
            if not text:
                del children[i]               # next candidate slides into i
                node.parent = None
                continue
            node.data = text
            prev_text = node
            frame[1] = i + 1
        elif cls is Element:
            tag = node.tag                    # enter visit
            if tag in BLOCK_ELEMENTS or tag == "br":
                if prev_text is not None and prev_text.data.endswith(" "):
                    prev_text.data = prev_text.data[:-1]
                prev_text = None
                keep_leading_ws = False
            elif tag in VOID or tag == "pre" or tag == "code":
                prev_text = None
                keep_leading_ws = True
            elif prev_text is not None:
                keep_leading_ws = False
            frame[1] = i + 1
            if node.children and not (tag == "pre" or tag == "code"):
                stack.append([node, 0])
        else:  # comment — turndown removes non-text/element nodes here
            del children[i]
            node.parent = None
    if prev_text is not None:
        if prev_text.data.endswith(" "):
            prev_text.data = prev_text.data[:-1]
        if not prev_text.data:
            prev_text.parent.remove_child(prev_text)


# ---------------------------------------------------------------------------
# Markdown escaping (Turndown default escapes)
# ---------------------------------------------------------------------------

_ESCAPES: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"\\"), r"\\\\"),
    (re.compile(r"\*"), r"\\*"),
    (re.compile(r"^-", re.M), r"\\-"),
    (re.compile(r"^\+ ", re.M), r"\\+ "),
    (re.compile(r"^(=+)", re.M), r"\\\1"),
    (re.compile(r"^(#{1,6}) ", re.M), r"\\\1 "),
    (re.compile(r"`"), r"\\`"),
    (re.compile(r"^~~~", re.M), r"\\~~~"),
    (re.compile(r"\["), r"\\["),
    (re.compile(r"\]"), r"\\]"),
    (re.compile(r"^>", re.M), r"\\>"),
    (re.compile(r"_"), r"\\_"),
    (re.compile(r"^(\d+)\. ", re.M), r"\1\\. "),
]


# fast path: text containing none of these characters matches no escape rule
_ESCAPE_TRIGGER = re.compile(r"[\\*\-+=#`~\[\]>_]|\d\. ")

# Same rules as _ESCAPES, applied in the same order, but each gated on a
# cheap substring test (most triggered texts hit only 1-2 rules) and using
# str.replace where the pattern is a bare literal. _ESCAPES stays as the
# order-of-application spec.
_GATED_ESCAPES: list[tuple[str, str | None, re.Pattern[str] | None, str]] = [
    ("\\", "\\\\", None, ""),
    ("*", "\\*", None, ""),
    ("-", None, _ESCAPES[2][0], _ESCAPES[2][1]),
    ("+ ", None, _ESCAPES[3][0], _ESCAPES[3][1]),
    ("=", None, _ESCAPES[4][0], _ESCAPES[4][1]),
    ("#", None, _ESCAPES[5][0], _ESCAPES[5][1]),
    ("`", "\\`", None, ""),
    ("~~~", None, _ESCAPES[7][0], _ESCAPES[7][1]),
    ("[", "\\[", None, ""),
    ("]", "\\]", None, ""),
    (">", None, _ESCAPES[10][0], _ESCAPES[10][1]),
    ("_", "\\_", None, ""),
    (". ", None, _ESCAPES[12][0], _ESCAPES[12][1]),
]


def _escape(text: str) -> str:
    if not _ESCAPE_TRIGGER.search(text):
        return text
    for needle, literal, pattern, repl in _GATED_ESCAPES:
        if needle in text:
            if literal is not None:
                text = text.replace(needle, literal)
            else:
                text = pattern.sub(repl, text)
    return text


# ---------------------------------------------------------------------------
# Flanking whitespace + joining
# ---------------------------------------------------------------------------

_EDGE_RE = re.compile(r"^(([ \t\r\n]*)(\s*))(?:(?=\S)[\s\S]*\S)?((\s*?)([ \t\r\n]*))$")


_WS_CHAR = re.compile(r"\s")


def _flanking(node: Element) -> tuple[str, str]:
    if _is_block(node) or node.tag == "code":
        return "", ""
    tc = _tc(node) or ""
    # fast gate: no edge whitespace (the dominant case) → no flanking.
    # Printable-ASCII edge chars ('!'..'~') can never be \s, so the
    # dominant case resolves on two compares; anything else falls through
    # to the single-char \s probes (which match the regex's own class).
    if tc:
        c0 = tc[0]
        cn = tc[-1]
        if "!" <= c0 <= "~" and "!" <= cn <= "~":
            return "", ""
        if not _WS_CHAR.match(c0) and not _WS_CHAR.match(cn):
            return "", ""
    m = _EDGE_RE.match(tc)
    if not m:
        return "", ""
    leading, leading_ascii = m.group(1), m.group(2)
    trailing, trailing_ascii = m.group(4), m.group(5) + m.group(6)
    # regex groups: 1=full leading, 2=ascii leading, 3=non-ascii leading,
    #               4=full trailing, 5=non-ascii trailing, 6=ascii trailing
    leading_non_ascii = m.group(3)
    trailing_non_ascii = m.group(5)
    trailing_ascii = m.group(6)
    if leading_ascii and _flanked_by_ws(node, left=True):
        leading = leading_non_ascii
    if trailing_ascii and _flanked_by_ws(node, left=False):
        trailing = trailing_non_ascii
    return leading, trailing


def _flanked_by_ws(node: Element, *, left: bool) -> bool:
    sibling = prev_sibling(node) if left else next_sibling(node)
    if sibling is None:
        return False
    if isinstance(sibling, Text):
        return sibling.data.endswith(" ") if left else sibling.data.startswith(" ")
    if isinstance(sibling, Element) and not _is_block(sibling):
        tc = _tc(sibling)
        return tc.endswith(" ") if left else tc.startswith(" ")
    return False


_TRAIL_NL = re.compile(r"\n+$")
_LEAD_NL = re.compile(r"^\n+")


# ---------------------------------------------------------------------------
# Rules
# ---------------------------------------------------------------------------
# Each rule: (filter(node) -> bool, replacement(content, node) -> str).
# Resolution order mirrors the reference service: custom rules override
# defaults, later-added custom rules override earlier ones
# (html-to-markdown.ts:130-389); GFM plugin rules sit between defaults and
# customs (ts:127).


def _child_index_in_parent(node: Element) -> int:
    return node.parent.element_children().index(node)


class _Converter:
    def __init__(self) -> None:
        # ordered highest-priority first
        self.rules: list[tuple] = []
        self._build_rules()
        # tag-indexed dispatch: every rule filter is tag-constrained, so a
        # node only evaluates the (priority-ordered) rules for its own tag
        self._by_tag: dict[str, list[tuple]] = {}
        for prio, (filt, repl) in enumerate(self.rules):
            for tag in getattr(filt, "_tags", ()):
                # bare tag filters are True by construction when dispatched
                # through their own tag key — stored as cond=None so
                # rule_for skips the call
                cond = None if getattr(filt, "_pure_tag", False) else filt
                self._by_tag.setdefault(tag, []).append((prio, filt, repl, cond))
        for lst in self._by_tag.values():
            lst.sort(key=lambda t: t[0])

    def add(self, filt, repl) -> None:
        self.rules.insert(0, (filt, repl))

    # -- default turndown rules (lowest priority) --------------------------
    def _build_rules(self) -> None:
        def tag_filter(*tags):
            tagset = frozenset(tags)

            def filt(n):
                return n.tag in tagset

            filt._tags = tagset
            filt._pure_tag = True
            return filt

        def hint(filt, *tags):
            filt._tags = frozenset(tags)
            return filt

        # heading (atx)
        def heading_repl(content: str, node: Element) -> str:
            level = int(node.tag[1])
            return "\n\n" + "#" * level + " " + content + "\n\n"

        self.add(tag_filter("h1", "h2", "h3", "h4", "h5", "h6"), heading_repl)

        # paragraph (default; overridden later by custom rule)
        self.add(tag_filter("p"), lambda c, n: "\n\n" + c + "\n\n")

        # blockquote
        def blockquote_repl(content: str, node: Element) -> str:
            content = re.sub(r"^\n+|\n+$", "", content)
            content = re.sub(r"^", "> ", content, flags=re.M)
            return "\n\n" + content + "\n\n"

        self.add(tag_filter("blockquote"), blockquote_repl)

        # list
        def list_repl(content: str, node: Element) -> str:
            parent = node.parent
            if (
                isinstance(parent, Element)
                and parent.tag == "li"
                and parent.element_children()
                and parent.element_children()[-1] is node
            ):
                return "\n" + content
            return "\n\n" + content + "\n\n"

        self.add(tag_filter("ul", "ol"), list_repl)

        # list item
        def _js_number(s: str) -> float:
            # JS Number() coercion for the cases an HTML start attr can hold
            t = s.strip()
            if t == "":
                return 0.0
            try:
                if re.fullmatch(r"[+-]?0[xX][0-9a-fA-F]+", t):
                    return float(int(t, 16))
                if re.fullmatch(r"0[bB][01]+", t):
                    return float(int(t, 2))
                if re.fullmatch(r"0[oO][0-7]+", t):
                    return float(int(t, 8))
                return float(t)
            except ValueError:
                return float("nan")

        def _js_num_str(x: float) -> str:
            import math
            if math.isnan(x):
                return "NaN"
            if math.isinf(x):
                return "Infinity" if x > 0 else "-Infinity"
            if x == int(x) and abs(x) < 1e21:
                return str(int(x))
            return repr(x)

        def list_item_repl(content: str, node: Element) -> str:
            content = content.lstrip("\n")            # == sub(r'^\n+', '')
            stripped = content.rstrip("\n")
            if stripped != content:                   # == sub(r'\n+$', '\n')
                content = stripped + "\n"
            content = content.replace("\n", "\n    ")
            prefix = "-   "
            parent = node.parent
            if isinstance(parent, Element) and parent.tag == "ol":
                start = parent.attrs.get("start")
                index = _child_index_in_parent(node)
                # turndown: `start ? Number(start) + index : index + 1` —
                # negative/whitespace/NaN start values follow JS coercion
                if start:
                    prefix = f"{_js_num_str(_js_number(start) + index)}.  "
                else:
                    prefix = f"{index + 1}.  "
            suffix = "\n" if (next_sibling(node) is not None and not content.endswith("\n")) else ""
            return prefix + content + suffix

        self.add(tag_filter("li"), list_item_repl)

        # fenced code block (default; overridden by custom preCodeBlock)
        def fenced_repl(content: str, node: Element) -> str:
            code = node.children[0]
            assert isinstance(code, Element)
            class_attr = code.attrs.get("class", "")
            m = re.search(r"language-(\S+)", class_attr)
            language = m.group(1) if m else ""
            code_text = re.sub(r"\n$", "", code.text_content)
            return "\n\n```" + language + "\n" + code_text + "\n```\n\n"

        self.add(
            hint(lambda n: n.tag == "pre" and n.children
                 and isinstance(n.children[0], Element)
                 and n.children[0].tag == "code", "pre"),
            fenced_repl,
        )

        # hr
        self.add(tag_filter("hr"), lambda c, n: "\n\n---\n\n")

        # inline code (turndown `code` rule)
        def inline_code_filter(node: Element) -> bool:
            if node.tag != "code":
                return False
            has_siblings = prev_sibling(node) is not None or next_sibling(node) is not None
            is_code_block = (
                isinstance(node.parent, Element)
                and node.parent.tag == "pre"
                and not has_siblings
            )
            return not is_code_block

        def inline_code_repl(content: str, node: Element) -> str:
            content = _tc(node)  # preformattedCode: raw content
            if not content:
                return ""
            content = re.sub(r"\r?\n|\r", " ", content)
            extra = " " if re.search(r"^`|^ .*?[^ ].* $|`$", content) else ""
            delimiter = "`"
            matches = re.findall(r"`+", content)
            while delimiter in matches:
                delimiter += "`"
            return delimiter + extra + content + extra + delimiter

        self.add(hint(inline_code_filter, "code"), inline_code_repl)

        # default image/link rules are fully overridden below; skip them.

        # ---- GFM plugin rules (turndown-plugin-gfm) ----------------------
        # strikethrough: del/s/strike → ~content~
        self.add(tag_filter("del", "s", "strike"), lambda c, n: "~" + c + "~")

        # task list items: input[type=checkbox] inside li
        def task_filter(node: Element) -> bool:
            return (
                node.tag == "input"
                and node.attrs.get("type") == "checkbox"
                and isinstance(node.parent, Element)
                and node.parent.tag == "li"
            )

        self.add(hint(task_filter, "input"),
                 lambda c, n: ("[x] " if "checked" in n.attrs else "[ ] "))

        # tables — gfm-plugin parity: isFirstTbody accepts no previous
        # sibling OR a whitespace-only thead; firstChild/childNodes checks
        # see ALL nodes (stray non-ws text in a tr defeats the all-TH test,
        # exactly as in the plugin)
        def is_first_tbody(parent: Element) -> bool:
            prev = prev_sibling(parent)
            return parent.tag == "tbody" and (
                prev is None
                or (isinstance(prev, Element) and prev.tag == "thead"
                    and not _tc(prev).strip()))

        def is_heading_row(tr: Element | None) -> bool:
            if tr is None:
                return False
            parent = tr.parent
            if not isinstance(parent, Element):
                return False
            if parent.tag == "thead":
                return True
            return (
                bool(parent.children) and parent.children[0] is tr
                and (parent.tag == "table" or is_first_tbody(parent))
                and all(isinstance(ch, Element) and ch.tag == "th"
                        for ch in tr.children)
            )

        def first_row(table: Element) -> Element | None:
            for d in table.iter():
                if d.tag == "tr":
                    return d
            return None

        def cell(content: str, node: Element) -> str:
            index = _child_index_in_parent(node)
            prefix = "| " if index == 0 else " "
            return prefix + content.strip().replace("\n", " ") + " |"

        def table_cell_filter(node: Element) -> bool:
            return node.tag in ("th", "td") and _table_of(node) is not None

        def _table_of(node: Element) -> Element | None:
            cur = node.parent
            while isinstance(cur, Element):
                if cur.tag == "table":
                    return cur
                cur = cur.parent
            return None

        self.add(hint(table_cell_filter, "th", "td"), cell)

        def table_row_repl(content: str, node: Element) -> str:
            border = ""
            if is_heading_row(node):
                align_map = {"left": ":--", "right": "--:", "center": ":-:"}
                border = "\n" + "".join(
                    ("| " if i == 0 else " ")
                    + align_map.get((ch.attrs.get("align") or "").lower(), "---")
                    + " |"
                    for i, ch in enumerate(node.element_children())
                )
            return "\n" + content + border

        self.add(hint(lambda n: n.tag == "tr" and _table_of(n) is not None, "tr"),
                 table_row_repl)

        def table_repl(content: str, node: Element) -> str:
            if not is_heading_row(first_row(node)):
                # gfm `keep()` path: tables without a heading row are kept as
                # raw HTML (turndown keepReplacement: block → \n\n+outerHTML+\n\n)
                return "\n\n" + serialize(node) + "\n\n"
            # JS string-pattern replace: FIRST occurrence only
            content = content.replace("\n\n", "\n", 1)
            return "\n\n" + content + "\n\n"

        self.add(tag_filter("table"), table_repl)
        self.add(tag_filter("thead", "tbody", "tfoot"), lambda c, n: c)

        # ---- custom rules from html-to-markdown.ts (highest priority) ----
        # preCodeBlock (ts:130-153)
        def pre_code_repl(content: str, node: Element) -> str:
            code = next((c for c in node.children if isinstance(c, Element)), None)
            class_name = code.attrs.get("class", "") if code is not None else ""
            m = re.search(r"language-(\w+)|lang-(\w+)", class_name)
            language = (m.group(1) or m.group(2) or "") if m else ""
            clean = re.sub(r"^\d+\s+", "", content, flags=re.M).strip()
            return "\n\n```" + language + "\n" + clean + "\n```\n\n"

        self.add(
            hint(lambda n: n.tag == "pre" and n.children
                 and isinstance(n.children[0], Element)
                 and n.children[0].tag == "code", "pre"),
            pre_code_repl,
        )

        # inlineLink (ts:156-178)
        def inline_link_repl(content: str, node: Element) -> str:
            href = (node.attrs.get("href") or "").strip()
            title_attr = node.attrs.get("title") or ""
            title = f' "{title_attr}"' if title_attr else ""
            clean = re.sub(r"\s+", " ", content).strip()
            link_text = clean or href
            return f"[{link_text}]({href}{title})"

        self.add(hint(lambda n: n.tag == "a" and n.attrs.get("href"), "a"),
                 inline_link_repl)

        # images (ts:181-205)
        def image_repl(content: str, node: Element) -> str:
            alt = node.attrs.get("alt") or ""
            title = node.attrs.get("title") or ""
            src = (
                node.attrs.get("data-src")
                or node.attrs.get("data-original")
                or node.attrs.get("src")
                or ""
            )
            if not src or src.startswith("data:image/svg"):
                return ""
            title_part = f' "{title}"' if title else ""
            return f"\n\n![{alt}]({src}{title_part})\n\n"

        self.add(tag_filter("img"), image_repl)

        # removed elements (ts:208-214)
        self.add(hint(lambda n: n.tag in _REMOVED_TAGS, *_REMOVED_TAGS),
                 lambda c, n: "")

        # paragraphs (ts:217-234)
        def para_repl(content: str, node: Element) -> str:
            trimmed = content.strip()
            if not trimmed:
                return ""
            if _in_anchor(node):
                return trimmed
            return "\n\n" + trimmed + "\n\n"

        self.add(tag_filter("p"), para_repl)

        # divs (ts:237-262)
        def div_repl(content: str, node: Element) -> str:
            trimmed = content.strip()
            if not trimmed:
                return ""
            has_block = _has_block_descendant(node, _DIV_BLOCK_TAGS)
            if _in_anchor(node):
                return trimmed
            if has_block:
                return "\n\n" + trimmed + "\n\n"
            return trimmed + " "

        self.add(tag_filter("div"), div_repl)

        # spans (ts:265-293)
        def span_repl(content: str, node: Element) -> str:
            trimmed = content.strip()
            if not trimmed:
                return ""

            def _has_content(sib: Node | None) -> bool:
                if isinstance(sib, Text):
                    return bool(sib.data.strip())
                if isinstance(sib, Element) and sib.tag == "span":
                    return bool(_tc(sib).strip())
                return False

            prefix = " " if _has_content(prev_sibling(node)) else ""
            suffix = " " if _has_content_next(next_sibling(node)) else ""
            return prefix + trimmed + suffix

        def _has_content_next(sib: Node | None) -> bool:
            # reference checks only text/span siblings, same as prefix side
            if isinstance(sib, Text):
                return bool(sib.data.strip())
            if isinstance(sib, Element) and sib.tag == "span":
                return bool(_tc(sib).strip())
            return False

        self.add(tag_filter("span"), span_repl)

        # linkedImages (ts:296-317) — added after inlineLink, so wins for
        # anchors whose only (non-whitespace) child is an <img>.
        def linked_image_filter(node: Element) -> bool:
            if node.tag != "a":
                return False
            children = [
                c for c in node.children
                if not (isinstance(c, Text) and not c.data.strip())
            ]
            return len(children) == 1 and isinstance(children[0], Element) and children[0].tag == "img"

        def linked_image_repl(content: str, node: Element) -> str:
            href = (node.attrs.get("href") or "").strip()
            invalid = (not href) or href == "#" or href.lower().startswith("javascript:")
            image_md = content.strip()
            return image_md if invalid else f"[{image_md}]({href})"

        self.add(hint(linked_image_filter, "a"), linked_image_repl)

        # sections (ts:320-345)
        def section_repl(content: str, node: Element) -> str:
            trimmed = content.strip()
            if not trimmed:
                return ""
            has_block = _has_block_descendant(node, _SECTION_BLOCK_TAGS)
            if _in_anchor(node):
                return trimmed
            if has_block:
                return "\n\n" + trimmed + "\n\n"
            return trimmed + " "

        self.add(tag_filter("section"), section_repl)

        # figure / picture wrappers (ts:348-354)
        def figure_repl(content: str, node: Element) -> str:
            inner = content.strip()
            return f"\n\n{inner}\n\n" if inner else ""

        self.add(tag_filter("figure", "picture"), figure_repl)

        # figcaption (ts:357-363)
        self.add(
            tag_filter("figcaption"),
            lambda c, n: (f"\n\n{c.strip()}\n\n" if c.strip() else ""),
        )

        # emphasis (ts:366-381)
        def emphasis_repl(content: str, node: Element) -> str:
            clean = content.strip()
            if not clean:
                return ""
            if node.tag in ("em", "i"):
                return "*" + clean + "*"
            return "**" + clean + "**"

        self.add(tag_filter("em", "i", "strong", "b"), emphasis_repl)

        # line breaks (ts:384-389)
        self.add(tag_filter("br"), lambda c, n: "\n")

    # -- rule resolution ---------------------------------------------------
    def rule_for(self, node: Element):
        if _is_blank(node):
            return None, _blank_repl
        for _prio, filt, repl, cond in self._by_tag.get(node.tag, ()):
            if cond is None:            # bare tag filter: True by dispatch
                return filt, repl
            try:
                if cond(node):
                    return filt, repl
            except Exception:
                continue
        return None, _default_repl

    # -- tree processing ---------------------------------------------------
    def process(self, parent: Element) -> str:
        # Incremental equivalent of folding ``output = _join(output, piece)``:
        # keep the accumulated string as (parts with no trailing newlines,
        # tail = trailing-newline count). Avoids re-copying the whole output
        # per child (the fold is O(n^2) on wide nodes).
        # rules never mutate the tree during processing, so iterate the
        # child list directly; every Text child shares the parent's
        # in-code status, so the ancestor climb runs once per parent
        parent_in_code = _in_code(parent)
        children = parent.children
        # leaf fast path (single newline-free text child — the dominant
        # shape: a/li/p/hN after collapse): the fold below reduces to the
        # escaped text itself (sep=0, no trailing newlines)
        if len(children) == 1:
            only = children[0]
            if only.__class__ is Text and "\n" not in only.data:
                return only.data if parent_in_code else _escape(only.data)
        parts: list[str] = []
        tail = 0
        for node in children:
            if node.__class__ is Text:
                piece = node.data if parent_in_code else _escape(node.data)
            elif node.__class__ is Element:
                piece = self.replacement_for(node)
            else:
                continue  # comments are dropped by collapse; ignore stragglers
            if not piece:
                if tail > 2:  # _join(output, "") caps trailing newlines at 2
                    tail = 2
                continue
            stripped_lead = piece.lstrip("\n")
            sep = max(tail, len(piece) - len(stripped_lead))
            if sep > 2:
                sep = 2
            body = stripped_lead.rstrip("\n")
            if body:
                if sep:
                    parts.append("\n" * sep)
                parts.append(body)
                tail = len(stripped_lead) - len(body)
            else:  # piece was all newlines: only the separator survives
                tail = sep
        return "".join(parts) + "\n" * tail

    def replacement_for(self, node: Element) -> str:
        _, repl = self.rule_for(node)
        content = self.process(node)
        leading, trailing = _flanking(node)
        if leading or trailing:
            content = content.strip()
        return leading + repl(content, node) + trailing


# ---------------------------------------------------------------------------
# Pre/post-processing (html-to-markdown.ts:23-96, 392-438)
# ---------------------------------------------------------------------------

def _preprocess_html(html: str) -> str:
    return re.sub(r">\s+<", "><", html).strip()  # ts:23-29


def _fix_multiline_links(markdown: str) -> str:  # ts:61-86
    # Event-driven rewrite of the reference's per-char loop: only
    # '[' / ']' / '\n' occurrences change state, so jump between them.
    # Same state machine: in_link turns on at an unescaped '[', off when an
    # unescaped ']' returns the bracket count to exactly 0; newlines inside
    # a link become literal '\\n'.
    result: list[str] = []
    last = 0
    in_link = False
    bracket_count = 0
    for m in _LINK_EVENT.finditer(markdown):
        c = m.group()
        i = m.start()
        if c == "\n":
            if in_link:
                result.append(markdown[last:i])
                result.append("\\n")
                last = i + 1
            continue
        if i > 0 and markdown[i - 1] == "\\":
            continue
        if c == "[":
            bracket_count += 1
            in_link = True
        else:
            bracket_count -= 1
            if bracket_count == 0:
                in_link = False
    result.append(markdown[last:])
    return "".join(result)


_LINK_EVENT = re.compile(r"[\[\]\n]")


_SKIP_LINK_RE = re.compile(r"\[skip\s+to\s+(content|main)\]\(#[^\)]*\)", re.I)  # ts:91-96


def _post_process(markdown: str) -> str:  # ts:34-56
    result = _fix_multiline_links(markdown)
    result = _SKIP_LINK_RE.sub("", result)
    result = re.sub(r"\n{3,}", "\n\n", result)
    result = re.sub(
        r"\[([^\]]+)\]",
        lambda m: "[" + re.sub(r"\s+", " ", m.group(1)).strip() + "]",
        result,
    )
    result = re.sub(r"([^\n])\n!\[", r"\1\n\n![", result)
    result = re.sub(r"!\[([^\]]*)\]\(([^\)]+)\)\n(?!\n)", r"![\1](\2)\n\n", result)
    return result.strip()


_COLLAPSE_INSIDE_RE = re.compile(r"\[\s*(!\[[^\]]*\]\([^\)]+\))\s*\]")
_STRIP_BARE_RE = re.compile(r"\[\s*(!\[[^\]]*\]\([^\)]+\))\s*\](?!\s*[\(\[])")


def _normalize_bracket_wrapped_images(s: str) -> str:  # ts:392-410
    while True:
        prev = s
        s = _COLLAPSE_INSIDE_RE.sub(r"[\1]", s)
        s = _STRIP_BARE_RE.sub(r"\1", s)
        if s == prev:
            return s


_LINK_TEXT_RE = re.compile(r"\[\s*([\s\S]*?)\s*\]\(([^\)]+)\)")


def _normalize_link_text_whitespace(s: str) -> str:  # ts:413-422
    def repl(m: re.Match[str]) -> str:
        cleaned = re.sub(r"[\t\r\n]+", " ", m.group(1))
        cleaned = re.sub(r"\s{2,}", " ", cleaned).strip()
        return f"[{cleaned}]({m.group(2)})"

    return _LINK_TEXT_RE.sub(repl, s)


def _blank_repl(c, n):
    return "\n\n" if _is_block(n) else ""


def _default_repl(c, n):
    return "\n\n" + c + "\n\n" if _is_block(n) else c


_CONVERTER = _Converter()          # rules are stateless — build once


_WS_ONLY = re.compile(r"[ \t\r\n]+\Z")


def _strip_ws_only_text_nodes(root: Element) -> None:
    r"""DOM equivalent of the reference's string preprocess ``>\s+<`` → ``><``
    (html-to-markdown.ts:23-29): in serialized HTML every whitespace-only text
    node sits between ``>`` and ``<``, so removing them all is the same
    transformation without the serialize/re-parse round trip."""
    stack = [root]
    match_ws = _WS_ONLY.match
    while stack:
        el = stack.pop()
        children = el.children
        kept = [c for c in children
                if c.__class__ is not Text or not match_ws(c.data)]
        if len(kept) != len(children):
            # one list rebuild instead of per-node children.remove()
            # (each remove is an O(n) scan — quadratic on wide nodes)
            for c in children:
                if c.__class__ is Text and match_ws(c.data):
                    c.parent = None
            el.children = kept
        for c in kept:
            if c.__class__ is Element:
                stack.append(c)


def html_to_markdown_dom(root: Element) -> str:
    """Convert an already-parsed (and possibly transformer-mutated) DOM.
    Mutates the tree (whitespace collapse) — callers must serialize any
    ``html`` output before invoking this."""
    _strip_ws_only_text_nodes(root)
    _collapse_whitespace(root)
    _TC_CACHE.clear()
    _DISQ_CACHE.clear()
    markdown = _CONVERTER.process(root)
    markdown = re.sub(r"^[\t\r\n]+|[\t\r\n\s]+$", "", markdown)  # turndown postProcess trim
    markdown = _normalize_bracket_wrapped_images(markdown)
    markdown = _normalize_link_text_whitespace(markdown)
    markdown = _post_process(markdown)
    return markdown


def html_to_markdown(html: str) -> str:
    """Full pipeline: preprocess → turndown-equivalent → post-process."""
    html = _preprocess_html(html or "")
    if not html:
        return ""
    return html_to_markdown_dom(parse_html(html))
