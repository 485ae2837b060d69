"""Per-page extraction orchestrator (SURVEY.md §2.3 T16/T20).

One pure function :func:`extract_page` maps ``(url, raw_html, options)`` to
the page result document the reference assembles in
``DataExtractor.extractData`` / ``assembleData``
(``/root/reference/packages/scrape/src/core/DataExtractor.ts:417-586``):

    {title, metadata[], html, markdown, text, links[]}

The format dependency DAG of the reference (markdown depends on the
transformed html; text is computed from RAW html; links from the raw DOM
against the request url) is preserved exactly. This function is the kernel
the Arrow-batched Spark UDF wraps — no Spark imports here, so it is unit
testable and usable from plain Python.
"""

from __future__ import annotations

from typing import Any

from .dom import parse_html, serialize
from .markdown import html_to_markdown, html_to_markdown_dom
from .text import html_to_text, html_to_text_dom
from .transformer import (
    TransformOptions,
    extract_links,
    extract_metadata,
    extract_title,
    fallback_clean_dom,
    fallback_html,
    meta_entry,
    resolve_link_anchors,
    transform_dom,
    transform_html,
)

DEFAULT_FORMATS = ("markdown",)  # BaseSchema.ts default formats: ["markdown"]


def process_markdown(html: str) -> str:
    """Markdown with the reference's smart fallback (DataExtractor.ts:335-394):
    if the main-content conversion yields <100 chars or <20 words, re-convert
    from minimally-cleaned raw html."""
    markdown = html_to_markdown(html)
    trimmed = markdown.strip()
    word_count = len(trimmed.split()) if trimmed else 0
    if len(trimmed) < 100 or word_count < 20:
        markdown = html_to_markdown(fallback_html(html))
    return markdown


def extract_page(
    url: str,
    raw_html: str,
    *,
    formats: tuple[str, ...] | list[str] = ("markdown", "text", "links", "html"),
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
    only_main_content: bool = True,
) -> dict[str, Any]:
    """Single-parse pipeline: title/metadata/links read the raw DOM first,
    then the transformer mutates that same tree (the reference clones before
    transforming — our tree is already private per row), the cleaned tree is
    serialized once for the ``html`` format, and the markdown converter
    consumes the cleaned DOM directly (no re-parse)."""
    formats = tuple(formats)
    root = parse_html(raw_html or "")
    # one pre-order walk collects title + metadata + anchors (identical
    # document order to the three separate extract_* walks)
    title_el = None
    metadata: list[dict] = []
    anchors: list = []
    for el in root.iter():
        tag = el.tag
        if tag == "title":
            if title_el is None:
                title_el = el
        elif tag == "meta":
            entry = meta_entry(el)
            if entry is not None:
                metadata.append(entry)
        elif tag == "a" and "href" in el.attrs:
            anchors.append(el)
    result: dict[str, Any] = {
        "url": url,
        "title": title_el.text_content.strip() if title_el is not None else "",
        "metadata": metadata,
        "html": None,
        "markdown": None,
        "text": None,
        "links": None,
        "raw_html": raw_html if "rawHtml" in formats else None,
    }
    if "links" in formats:
        result["links"] = resolve_link_anchors(anchors, url)
    if "text" in formats:
        # text is computed from RAW html, not the cleaned html
        # (DataExtractor.ts:486-488); reuses the raw parse read-only, before
        # the transformer mutates the tree below
        result["text"] = html_to_text_dom(root)

    needs_transform = any(f in formats for f in ("html", "markdown", "json", "summary"))
    if needs_transform:
        cleaned = transform_dom(
            root, url,
            TransformOptions(
                include_tags=list(include_tags or []),
                exclude_tags=list(exclude_tags or []),
                only_main_content=only_main_content,
            ),
        )
        if "html" in formats:
            from .dom import inner_html

            result["html"] = (
                inner_html(cleaned) if cleaned.tag == "div" else serialize(cleaned)
            )
        if "markdown" in formats:
            result["markdown"] = process_markdown_dom(cleaned)
    return result


def process_markdown_dom(cleaned) -> str:
    """DOM-level processMarkdown with the reference's thin-page fallback:
    the fallback re-converts the SAME (already collapsed) tree after minimal
    cleaning — identical semantics to the string path because whitespace
    collapse is idempotent."""
    markdown = html_to_markdown_dom(cleaned)
    trimmed = markdown.strip()
    word_count = len(trimmed.split()) if trimmed else 0
    if len(trimmed) < 100 or word_count < 20:
        markdown = html_to_markdown_dom(fallback_clean_dom(cleaned))
    return markdown

