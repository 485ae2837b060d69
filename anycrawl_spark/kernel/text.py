"""HTML → plain text (SURVEY.md §2.3 T14).

The reference calls ``convert(rawHtml)`` from the ``html-to-text`` npm package
with default options (``DataExtractor.ts:486-488``). This module re-expresses
those documented defaults in pure Python:

- word wrap at 80 columns,
- headings uppercased, block elements separated by blank lines,
- anchors rendered as ``text [href]`` (skipped when href equals the text or
  is a fragment / javascript link),
- images rendered as ``alt [src]``,
- unordered lists with `` * `` markers, ordered lists numbered,
- blockquotes prefixed ``> ``, ``<pre>`` verbatim,
- tables rendered row-per-line with cells joined by three spaces,
- ``<hr>`` as a 40-dash line,
- script/style/noscript dropped.

The byte-level contract for the engine is self-consistency: golden ``text``
fixtures are produced by this same kernel (FIXTURES.md §1), and the Spark
pipeline must reproduce them byte-identically per url.
"""

from __future__ import annotations

import re

_WS_ANY = re.compile(r"\s+")
# a \s+ collapse only changes the string if there is a 2+ whitespace run or
# a whitespace char that isn't a plain space
_WS_RUN_PROBE = re.compile(r"\s\s|[^\S ]")
_SPACES = re.compile(r"[ \t]+")

from .dom import Comment, Element, Node, Text, parse_html

_SKIP = {"script", "style", "noscript", "head", "title", "meta", "link"}
_BLOCK = {
    "address", "article", "aside", "blockquote", "div", "dl", "dd", "dt",
    "fieldset", "figure", "figcaption", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "main", "nav", "ol", "p", "pre",
    "section", "table", "ul",
}
_WRAP_COL = 80


def _wrap(text: str, width: int = _WRAP_COL) -> list[str]:
    lines: list[str] = []
    for raw_line in text.split("\n"):
        words = raw_line.split(" ")
        cur = ""
        for word in words:
            if not word:
                continue
            candidate = f"{cur} {word}" if cur else word
            if len(candidate) > width and cur:
                lines.append(cur)
                cur = word
            else:
                cur = candidate
        lines.append(cur)
    return lines


class _Renderer:
    def __init__(self) -> None:
        self.blocks: list[str] = []

    # -- inline rendering ---------------------------------------------------
    def _inline(self, node: Node) -> str:
        # identity class checks: the parser emits exactly the dom node
        # classes (node contract in kernel/dom.py)
        cls = node.__class__
        if cls is Text:
            data = node.data
            # collapse only when a run can exist (single spaces dominate);
            # search() uses the same \s class the sub would
            if _WS_RUN_PROBE.search(data):
                return _WS_ANY.sub(" ", data)
            return data
        if cls is Comment:
            return ""
        tag = node.tag
        if tag in _SKIP:
            return ""
        if tag == "br":
            return "\n"
        if tag == "img":
            alt = (node.attrs.get("alt") or "").strip()
            src = (node.attrs.get("src") or "").strip()
            if not src and not alt:
                return ""
            if src and alt:
                return f"{alt} [{src}]"
            return alt or f"[{src}]"
        if tag == "a":
            inner = "".join(self._inline(c) for c in node.children)
            href = (node.attrs.get("href") or "").strip()
            text = inner.strip()
            if not href or href.startswith(("#", "javascript:")):
                return inner
            if text == href:
                return inner
            if not text:
                return f"[{href}]"
            return f"{inner} [{href}]"
        # all other elements (inline tags and the fallback alike) render
        # their children with block boundaries
        return self._inline_children(node)

    def _inline_children(self, node: Element) -> str:
        """Join children; BLOCK children contribute a newline boundary so
        blocks inlined into e.g. a table cell don't merge adjacent words
        ('<td><p>alpha</p><p>beta</p></td>' must not read 'alphabeta')."""
        parts = []
        for c in node.children:
            rendered = self._inline(c)
            if c.__class__ is Element and c.tag in _BLOCK:
                parts.append("\n" + rendered + "\n")
            else:
                parts.append(rendered)
        return "".join(parts)

    def _inline_block_text(self, node: Element) -> str:
        text = self._inline_children(node)
        # collapse spaces but keep explicit newlines from <br>/blocks
        text = _SPACES.sub(" ", text)
        text = "\n".join(part.strip() for part in text.split("\n"))
        return text.strip()

    # -- block rendering ----------------------------------------------------
    def render_children(self, el: Element) -> None:
        inline_buf: list[str] = []

        def flush() -> None:
            raw = "".join(inline_buf)
            inline_buf.clear()
            # _SPACES matches single spaces too (identity sub) — only run
            # it when an actual run/tab exists
            if "  " in raw or "\t" in raw:
                raw = _SPACES.sub(" ", raw)
            if "\n" in raw:
                pieces = [p.strip() for p in raw.split("\n")]
                text = "\n".join(pieces).strip("\n")
            else:
                text = raw.strip()
            if text.strip():
                # single-spaced stripped text with no newline and within
                # the wrap column IS its own wrap output
                if "\n" not in text and len(text) <= _WRAP_COL:
                    self.blocks.append(text)
                else:
                    self.blocks.append("\n".join(_wrap(text)))

        for child in el.children:
            if child.__class__ is Element:
                tag = child.tag
                if tag in _BLOCK or tag == "li" or tag == "tr":
                    flush()
                    self.render_block(child)
                    continue
                if tag in _SKIP:
                    continue
            inline_buf.append(self._inline(child))
        flush()

    def render_block(self, el: Element) -> None:
        tag = el.tag
        if tag in _SKIP:
            return
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            text = self._inline_block_text(el)
            if text:
                self.blocks.append("\n".join(_wrap(text.upper())))
            return
        if tag == "p":
            text = self._inline_block_text(el)
            if text:
                self.blocks.append("\n".join(_wrap(text)))
            return
        if tag == "hr":
            self.blocks.append("-" * 40)
            return
        if tag == "pre":
            text = el.text_content.strip("\n")
            if text.strip():
                self.blocks.append(text)
            return
        if tag == "blockquote":
            sub = _Renderer()
            sub.render_children(el)
            quoted = "\n\n".join(sub.blocks)
            if quoted.strip():
                self.blocks.append("\n".join(
                    ("> " + line) if line else ">" for line in quoted.split("\n")
                ))
            return
        if tag in ("ul", "ol"):
            self._render_list(el, ordered=(tag == "ol"))
            return
        if tag == "table":
            self._render_table(el)
            return
        # generic container (div/section/article/…)
        self.render_children(el)

    def _render_list(self, el: Element, *, ordered: bool) -> None:
        items = [c for c in el.element_children() if c.tag == "li"]
        out_lines: list[str] = []
        for idx, li in enumerate(items, start=1):
            sub = _Renderer()
            sub.render_children(li)
            body = "\n".join(sub.blocks)
            marker = f" {idx}. " if ordered else " * "
            pad = " " * len(marker)
            lines = body.split("\n") if body else [""]
            out_lines.append(marker + lines[0])
            out_lines.extend(pad + line for line in lines[1:])
        if out_lines:
            self.blocks.append("\n".join(out_lines))

    def _render_table(self, el: Element) -> None:
        # only THIS table's rows: a nested table's rows are inlined into
        # their outer cell's text — iterating all descendant tr would render
        # them a second time as standalone rows
        def _owner_table(tr: Element) -> Element | None:
            cur = tr.parent
            while isinstance(cur, Element):
                if cur.tag == "table":
                    return cur
                cur = cur.parent
            return None

        rows: list[str] = []
        for tr in [d for d in el.iter() if d.tag == "tr" and _owner_table(d) is el]:
            cells = [
                self._inline_block_text(td).replace("\n", " ")
                for td in tr.element_children()
                if td.tag in ("td", "th")
            ]
            if any(c for c in cells):
                rows.append("   ".join(cells).rstrip())
        if rows:
            self.blocks.append("\n".join(rows))


def html_to_text_dom(root: Element) -> str:
    """DOM-level conversion (read-only over the tree)."""
    body = next((el for el in root.iter() if el.tag == "body"), root)
    renderer = _Renderer()
    renderer.render_children(body)
    return "\n\n".join(b for b in renderer.blocks if b.strip())


def html_to_text(html: str) -> str:
    """Convert raw HTML to plain text with html-to-text default semantics."""
    return html_to_text_dom(parse_html(html or ""))
