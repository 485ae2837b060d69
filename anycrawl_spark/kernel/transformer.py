"""HTML cleaning / transformation (SURVEY.md §2.3 T4-T9) + link & metadata
extraction (T2/T3/T15).

Re-expresses the reference's ``HTMLTransformer``
(``/root/reference/packages/scrape/src/core/transformers/HTMLTransformer.ts``)
on our stdlib DOM:

- relative→absolute URL rewrite for ``img[srcset]`` / ``img[src]`` /
  ``a[href]`` with the srcset largest-first selection and ``http:/x`` repair
  (ts:363-532),
- ALWAYS_REMOVE_TAGS, EXCLUDE_NON_MAIN_TAGS + FORCE_INCLUDE_MAIN_TAGS
  main-content filter (the two selector lists are verbatim constants,
  ts:21-165),
- include_tags projection / exclude_tags removal / comment stripping
  (ts:204-270),
- metadata extraction (``DataExtractor.extractMetadata``, DataExtractor.ts:307-330),
- link extraction equivalent to crawlee's ``extractUrlsFromCheerio($,'a[href]',base)``
  (DataExtractor.ts:490-494).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .canonical import resolve_url
from .dom import (
    Comment,
    CompoundIndex,
    Element,
    parse_compound_list,
    select,
)

# Verbatim constants from HTMLTransformer.ts:21-165
ALWAYS_REMOVE_TAGS = ["script", "style", "noscript"]

EXCLUDE_NON_MAIN_TAGS = [
    "header", "footer", "nav", "aside",
    ".header", ".top", ".navbar", "#header", ".site-header", ".page-header",
    ".footer", ".bottom", "#footer", ".site-footer", ".page-footer",
    ".sidebar", ".side", ".aside", "#sidebar", ".left-sidebar", ".right-sidebar",
    ".modal", ".popup", "#modal", ".overlay", ".dialog", ".lightbox",
    ".ad", ".ads", ".advert", "#ad", ".advertisement", ".banner-ad",
    ".lang-selector", ".language", "#language-selector", ".locale-selector",
    ".social", ".social-media", ".social-links", "#social", ".social-share",
    ".share-buttons",
    ".menu", ".navigation", "#nav", ".nav-menu", ".site-nav",
    ".breadcrumbs", "#breadcrumbs", ".breadcrumb",
    ".share", "#share",
    ".cookie", "#cookie", ".cookie-banner", ".cookie-notice", ".cookie-consent",
    ".related", ".related-posts", ".related-articles",
    ".fc-decoration",
]

FORCE_INCLUDE_MAIN_TAGS = [
    "#main", "main", "[role='main']", ".main-content", ".content-main",
    "article", ".article", ".post-content", ".entry-content",
    ".swoogo-cols", ".swoogo-text", ".swoogo-table-div", ".swoogo-space",
    ".swoogo-alert", ".swoogo-sponsors", ".swoogo-title", ".swoogo-tabs",
    ".swoogo-logo", ".swoogo-image", ".swoogo-button", ".swoogo-agenda",
]


# Pre-compiled matchers (all entries are single compound selectors, so one
# document-order walk with local checks replaces per-selector tree scans).
_EXCLUDE_INDEX = CompoundIndex(parse_compound_list(EXCLUDE_NON_MAIN_TAGS))
_FORCE_INDEX = CompoundIndex(parse_compound_list(FORCE_INCLUDE_MAIN_TAGS))
# Quick-reject gates: an element can only match an index if its tag is
# indexed, it carries a class/id attribute, or the index has bare-attr
# selectors (rest) — everything else (the dominant p/a/li/td case) skips
# the matches() call entirely.
_EXCLUDE_TAGS = frozenset(_EXCLUDE_INDEX.by_tag)
_EXCLUDE_ATTR_KEYS = frozenset(_EXCLUDE_INDEX.by_attr) | {"class", "id"}
_EXCLUDE_REST = bool(_EXCLUDE_INDEX.rest)
_FORCE_TAGS = frozenset(_FORCE_INDEX.by_tag)
_FORCE_ATTR_KEYS = frozenset(_FORCE_INDEX.by_attr) | {"class", "id"}
_FORCE_REST = bool(_FORCE_INDEX.rest)


def _remove_non_main(root: Element) -> None:
    """only_main_content filter (HTMLTransformer.ts:229-253) in two passes:
    post-order contains-force computation, then top-down removal of excluded
    elements whose subtree holds no FORCE_INCLUDE match. Equivalent to the
    reference's per-selector loop because force-include containment is
    monotone up the tree (removed subtrees never contained a force match)."""
    contains_force: dict[int, bool] = {}

    def visit(el: Element) -> bool:
        found = False
        for c in el.children:
            if c.__class__ is Element:
                child_found = visit(c)
                # quick-reject before the matches() call: only indexed tags,
                # elements carrying a gated attr (class/id/role), or a
                # universal selector can possibly match
                if child_found or (
                    (c.tag in _FORCE_TAGS or _FORCE_REST
                     or (c.attrs and not _FORCE_ATTR_KEYS.isdisjoint(c.attrs)))
                    and _FORCE_INDEX.matches(c)
                ):
                    found = True
        contains_force[id(el)] = found
        return found

    visit(root)

    def sweep(el: Element) -> None:
        for c in list(el.children):
            if c.__class__ is not Element:
                continue
            if (
                (c.tag in _EXCLUDE_TAGS or _EXCLUDE_REST
                 or (c.attrs and not _EXCLUDE_ATTR_KEYS.isdisjoint(c.attrs)))
                and _EXCLUDE_INDEX.matches(c)
                and not contains_force[id(c)]
            ):
                el.remove_child(c)
            else:
                sweep(c)

    sweep(root)


@dataclass
class TransformOptions:
    include_tags: list[str] = field(default_factory=list)
    exclude_tags: list[str] = field(default_factory=list)
    only_main_content: bool = True  # default ON (BaseSchema.ts:137)
    transform_relative_urls: bool = True


# ---------------------------------------------------------------------------
# URL rewriting (ts:363-532)
# ---------------------------------------------------------------------------

def _rewrite_srcset(imgs: list[Element], base_url: str) -> None:
    for img in imgs:
        srcset = img.attrs.get("srcset")
        if not srcset:
            continue
        entries = [e.strip() for e in srcset.split(",")]
        sources: list[tuple[str, float, bool]] = []  # (abs_url, size, is_pixel_density)
        for entry in entries:
            parts = re.split(r"\s+", entry)
            if not parts or not parts[0]:
                continue
            url = parts[0]
            descriptor = parts[1] if len(parts) > 1 else "1x"
            size, is_px = 1.0, True
            if descriptor.endswith("x"):
                try:
                    size = float(descriptor[:-1])
                except ValueError:
                    pass
            elif descriptor.endswith("w"):
                try:
                    size = float(int(descriptor[:-1]))
                    is_px = False
                except ValueError:
                    pass
            sources.append((resolve_url(base_url, url) or url, size, is_px))
        if sources and all(s[2] for s in sources):
            src = img.attrs.get("src")
            if src:
                sources.append((resolve_url(base_url, src) or src, 1.0, True))
        # stable sort descending by size (ts:441-444 — Array.sort is stable)
        sources.sort(key=lambda s: -s[1])
        if sources:
            img.attrs["src"] = sources[0][0]
        new_entries = []
        for entry in entries:
            parts = re.split(r"\s+", entry)
            if not parts or not parts[0]:
                new_entries.append(entry)
                continue
            absolute = resolve_url(base_url, parts[0]) or parts[0]
            new_entries.append(f"{absolute} {parts[1]}" if len(parts) > 1 else absolute)
        img.attrs["srcset"] = ", ".join(new_entries)


def _transform_relative_urls(root: Element, base_url: str) -> None:
    imgs_srcset, imgs, anchors = [], [], []
    stack = list(root.children)
    while stack:
        n = stack.pop()
        if n.__class__ is not Element:
            continue
        if n.tag == "img":
            if "srcset" in n.attrs:
                imgs_srcset.append(n)
            if "src" in n.attrs:
                imgs.append(n)
        elif n.tag == "a" and "href" in n.attrs:
            anchors.append(n)
        stack.extend(n.children)
    _rewrite_srcset(imgs_srcset, base_url)
    for img in imgs:
        src = img.attrs.get("src")
        if src:
            img.attrs["src"] = resolve_url(base_url, src) or src
    for a in anchors:
        href = a.attrs.get("href")
        if href:
            a.attrs["href"] = resolve_url(base_url, href) or href


# ---------------------------------------------------------------------------
# Cleaning (ts:204-270)
# ---------------------------------------------------------------------------

def _remove_selected(root: Element, selector: str) -> None:
    for el in select(root, selector):
        if el.parent is not None:
            el.detach()


def _remove_comments(root: Element) -> None:
    comments = [n for n in root.iter_nodes() if n.__class__ is Comment]
    for c in comments:
        c.parent.remove_child(c)


def _clean_dom_tree(root: Element, options: TransformOptions) -> Element:
    _remove_selected(root, ", ".join(ALWAYS_REMOVE_TAGS))

    if options.include_tags:
        # Build a fresh <div> holding every match, in selector order
        # (ts:209-224). Matches are moved (our DOM is already a private clone).
        new_root = Element("#root")
        div = Element("div")
        new_root.append(div)
        for selector in options.include_tags:
            for el in select(root, selector):
                el.detach()
                div.append(el)
        return div

    if options.only_main_content:
        _remove_non_main(root)

    for selector in options.exclude_tags:
        _remove_selected(root, selector)

    _remove_comments(root)
    return root


def transform_dom(root: Element, base_url: str,
                  options: TransformOptions | None = None) -> Element:
    """DOM-level ``transformHtml``: mutates ``root`` in place (callers own
    the tree — the UDF parses a private copy per row) and returns the root
    of the cleaned tree (a fresh <div> root under include_tags)."""
    options = options or TransformOptions()
    if options.transform_relative_urls and base_url:
        _transform_relative_urls(root, base_url)
    return _clean_dom_tree(root, options)


def fallback_clean_dom(root: Element) -> Element:
    """DOM-level minimal cleaning for the markdown fallback path."""
    _remove_selected(root, "script, style, noscript, iframe")
    _remove_comments(root)
    return root


# ---------------------------------------------------------------------------
# Metadata / links (T3/T15); extract_page walks the raw DOM once for
# title, metadata and anchors
# ---------------------------------------------------------------------------


def meta_entry(el: Element) -> dict | None:
    """One ``<meta>`` element → entry dict, or None if it lacks
    (name|property)+content (DataExtractor.ts:307-330)."""
    name = el.attrs.get("name")
    prop = el.attrs.get("property")
    content = el.attrs.get("content")
    if (name or prop) and content:
        return {"name": name or prop, "content": content.strip(),
                "property": prop}
    return None


def resolve_link_anchors(anchors, base_url: str) -> list[str]:
    """All ``a[href]`` of a document-order anchor list resolved against
    base, http(s) only, first-seen dedup — crawlee
    ``extractUrlsFromCheerio`` semantics (DataExtractor.ts:490-494)."""
    seen: set[str] = set()
    out: list[str] = []
    for a in anchors:
        href = (a.attrs.get("href") or "").strip()
        if not href:
            continue
        absolute = resolve_url(base_url, href)
        if not absolute or not absolute.startswith(("http://", "https://")):
            continue
        if absolute not in seen:
            seen.add(absolute)
            out.append(absolute)
    return out
