"""Request validation: the reference's zod intake gate, re-derived.

Every API request passes ``schema.parse`` before any work happens
(SURVEY S3.1 step 2): ``scrapeSchema`` (ScrapeSchema.ts:4-48),
``crawlSchema`` (CrawlSchema.ts:6-110 incl. the nested scrape_options
normalization), both built on ``baseSchema`` (BaseSchema.ts:36-190) and
its ``json_options`` preprocess.  The gate is deterministic: defaults,
bounds, enums, union fallbacks, strict-key rejection, and the exact
issue list a client sees on a 400.

This module implements a minimal zod-v3 runtime covering exactly the
constructs those schemas use - optional / default / enum / number
min-max / string url-uuid checks / boolean / array (nonempty) / union /
record / any / object strip-vs-strict / preprocess / lazy recursion /
transform - with zod 3.25's issue codes and en-locale messages
(the reference pins zod ^3.25.76; messages from zod/src/locales/en.ts):

* ``invalid_type``: "Expected <t>, received <t>" ("Required" when the
  value is undefined), with bool checked before number and NaN reported
  as parsed type "nan";
* ``invalid_enum_value``: "Invalid enum value. Expected 'a' | 'b',
  received 'x'";
* ``too_small`` / ``too_big`` (inclusive): "Number must be greater than
  or equal to N" / "less than or equal to N";
* ``invalid_string``: "Invalid url" (zod's url check is a JS
  ``new URL()`` try/catch) / "Invalid uuid";
* ``invalid_union``: "Invalid input";
* ``unrecognized_keys``: "Unrecognized key(s) in object: 'k1', 'k2'" -
  appended after the shape keys' issues, path [].

Defaults apply ONLY to undefined (a JSON ``null`` is an invalid_type
error, never a default).  Plain ``z.object`` STRIPS unknown keys
silently; ``.strict()`` rejects them.  Object issues accumulate across
fields in shape-definition order (zod does not stop at the first).

The batch surface is :func:`validate_requests`: an Arrow-batched
``mapInPandas`` over a request-log JSON column (row-local - the gate
maps over any log scale with no shuffle), returning the verdict, the
first issue (code/path/message), the issue count, and the transformed
config serialized JSON.stringify-compatibly.
"""
from __future__ import annotations

import json
import math
import re
from typing import Any, Callable, Iterator, Optional, Sequence
from urllib.parse import urlsplit

from anycrawl_spark.template_handler import MISSING, js_number_to_string

# ---------------------------------------------------------------------------
# zod-v3 mini runtime
# ---------------------------------------------------------------------------


def parsed_type(v) -> str:
    """zod getParsedType over JSON-derived Python values."""
    if v is MISSING:
        return "undefined"
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "nan" if isinstance(v, float) and math.isnan(v) else "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    return "unknown"


def _issue(code: str, path: list, message: str) -> dict:
    return {"code": code, "path": list(path), "message": message}


def _invalid_type(expected: str, v, path) -> dict:
    received = parsed_type(v)
    msg = "Required" if received == "undefined" \
        else f"Expected {expected}, received {received}"
    return _issue("invalid_type", path, msg)


def _num_str(n) -> str:
    return js_number_to_string(n)


class Z:
    """Base node: subclasses implement _parse(v, path, issues) -> value
    (or MISSING on failure; issues appended)."""

    def parse(self, v):
        issues: list[dict] = []
        out = self._parse(v, [], issues)
        return {"success": not issues,
                "data": None if issues else out,
                "issues": issues}

    def optional(self) -> "ZOptional":
        return ZOptional(self)


class ZString(Z):
    def __init__(self, url: bool = False, uuid: bool = False,
                 email: bool = False, min: Optional[int] = None,
                 max: Optional[int] = None):
        self.url, self.uuid, self.email = url, uuid, email
        self.min_len, self.max_len = min, max

    def _parse(self, v, path, issues):
        if parsed_type(v) != "string":
            issues.append(_invalid_type("string", v, path))
            return MISSING
        before = len(issues)
        # checks run in chained order (.min().max() etc.), all collected
        if self.min_len is not None and len(v) < self.min_len:
            issues.append(_issue(
                "too_small", path,
                f"String must contain at least {self.min_len} "
                f"character(s)"))
        if self.max_len is not None and len(v) > self.max_len:
            issues.append(_issue(
                "too_big", path,
                f"String must contain at most {self.max_len} "
                f"character(s)"))
        if self.url and not _js_url_ok(v):
            issues.append(_issue("invalid_string", path, "Invalid url"))
        if self.uuid and not _UUID_RE.match(v):
            issues.append(_issue("invalid_string", path, "Invalid uuid"))
        if self.email and not _EMAIL_RE.match(v):
            issues.append(_issue("invalid_string", path, "Invalid email"))
        return MISSING if len(issues) > before else v


# zod 3.25 email regex (zod/src/types.ts emailRegex)
_EMAIL_RE = re.compile(
    r"^(?!\.)(?!.*\.\.)([A-Z0-9_'+\-\.]*)[A-Z0-9_+-]@([A-Z0-9][A-Z0-9\-]*"
    r"\.)+[A-Z]{2,}$", re.IGNORECASE)


_UUID_RE = re.compile(
    r"^[0-9a-fA-F]{8}\b-[0-9a-fA-F]{4}\b-[0-9a-fA-F]{4}\b-[0-9a-fA-F]{4}"
    r"\b-[0-9a-fA-F]{12}$")


def _js_url_ok(s: str) -> bool:
    """zod 3.25 string().url(): try { new URL(s) } catch -> invalid."""
    try:
        parts = urlsplit(s)
        if not parts.scheme:
            return False
        # JS URL requires scheme:... with a parseable body; special
        # schemes (http/https/ws/ftp/file) additionally need a host with
        # none of the WHATWG forbidden host code points
        if parts.scheme.lower() in ("http", "https", "ws", "wss", "ftp"):
            if not parts.hostname:
                return False
            if any(c in " <>@[]^|\\\x00\t\n\r" for c in parts.hostname):
                return False
        parts.port  # raises on malformed port
        return True
    except (ValueError, UnicodeError):
        return False


class ZNumber(Z):
    def __init__(self, min: Optional[float] = None,
                 max: Optional[float] = None, int_: bool = False,
                 positive: bool = False):
        self.min, self.max = min, max
        self.int_, self.positive = int_, positive

    def _parse(self, v, path, issues):
        if parsed_type(v) != "number":
            issues.append(_invalid_type("number", v, path))
            return MISSING
        before = len(issues)
        # checks in chained order: .int() precedes .min()/.positive()
        if self.int_ and (isinstance(v, float) and v != int(v)):
            issues.append(_issue(
                "invalid_type", path, "Expected integer, received float"))
        if self.positive and v <= 0:
            issues.append(_issue(
                "too_small", path, "Number must be greater than 0"))
        if self.min is not None and v < self.min:
            issues.append(_issue(
                "too_small", path,
                f"Number must be greater than or equal to "
                f"{_num_str(self.min)}"))
        if self.max is not None and v > self.max:
            issues.append(_issue(
                "too_big", path,
                f"Number must be less than or equal to "
                f"{_num_str(self.max)}"))
        return MISSING if len(issues) > before else v


class ZBoolean(Z):
    def _parse(self, v, path, issues):
        if parsed_type(v) != "boolean":
            issues.append(_invalid_type("boolean", v, path))
            return MISSING
        return v


class ZEnum(Z):
    def __init__(self, values: Sequence[str]):
        self.values = list(values)

    def _parse(self, v, path, issues):
        if v in self.values and isinstance(v, str):
            return v
        expected = " | ".join(f"'{x}'" for x in self.values)
        if parsed_type(v) != "string":
            # zod enum reports invalid_type for non-strings
            issues.append(_issue(
                "invalid_type", path,
                f"Expected {expected}, received {parsed_type(v)}"))
        else:
            issues.append(_issue(
                "invalid_enum_value", path,
                f"Invalid enum value. Expected {expected}, "
                f"received '{v}'"))
        return MISSING


class ZArray(Z):
    def __init__(self, inner: Z, nonempty: bool = False,
                 min: Optional[int] = None, max: Optional[int] = None):
        self.inner, self.nonempty = inner, nonempty
        self.min_len = 1 if nonempty else min
        self.max_len = max

    def _parse(self, v, path, issues):
        if parsed_type(v) != "array":
            issues.append(_invalid_type("array", v, path))
            return MISSING
        before = len(issues)
        # zod adds the size issues, then still parses the elements
        if self.min_len is not None and len(v) < self.min_len:
            issues.append(_issue(
                "too_small", path,
                f"Array must contain at least {self.min_len} element(s)"))
        if self.max_len is not None and len(v) > self.max_len:
            issues.append(_issue(
                "too_big", path,
                f"Array must contain at most {self.max_len} element(s)"))
        out = []
        for i, item in enumerate(v):
            out.append(self.inner._parse(item, path + [i], issues))
        return MISSING if len(issues) > before else out


class ZUnion(Z):
    def __init__(self, options: Sequence[Z]):
        self.options = list(options)

    def _parse(self, v, path, issues):
        for opt in self.options:
            sub: list[dict] = []
            out = opt._parse(v, path, sub)
            if not sub:
                return out
        issues.append(_issue("invalid_union", path, "Invalid input"))
        return MISSING


class ZRecord(Z):
    """z.record(z.any()) - value schema any, keys strings."""

    def _parse(self, v, path, issues):
        if parsed_type(v) != "object":
            issues.append(_invalid_type("object", v, path))
            return MISSING
        return v


class ZOptional(Z):
    def __init__(self, inner: Z):
        self.inner = inner

    def _parse(self, v, path, issues):
        if v is MISSING:
            return MISSING  # stays absent
        return self.inner._parse(v, path, issues)


class ZNullable(Z):
    def __init__(self, inner: Z):
        self.inner = inner

    def _parse(self, v, path, issues):
        if v is None:
            return None
        return self.inner._parse(v, path, issues)


class ZCustom(Z):
    """z.custom<T>() with no check function: accepts anything present."""

    def _parse(self, v, path, issues):
        return v


class ZRefine(Z):
    """schema.refine(fn, message): custom issue at the field path when
    the predicate rejects an otherwise-valid value."""

    def __init__(self, inner: Z, fn: Callable[[Any], bool], message: str):
        self.inner, self.fn, self.message = inner, fn, message

    def _parse(self, v, path, issues):
        before = len(issues)
        out = self.inner._parse(v, path, issues)
        if len(issues) > before:
            return MISSING
        if not self.fn(out):
            issues.append(_issue("custom", path, self.message))
            return MISSING
        return out


class ZSuperRefine(Z):
    """object.superRefine(fn): fn(value, add_issue) runs only when the
    inner parse produced no issues (zod skips effects on aborted
    results)."""

    def __init__(self, inner: Z, fn: Callable):
        self.inner, self.fn = inner, fn

    def _parse(self, v, path, issues):
        before = len(issues)
        out = self.inner._parse(v, path, issues)
        if len(issues) > before:
            return MISSING
        def add_issue(sub_path: list, message: str):
            issues.append(_issue("custom", path + sub_path, message))
        self.fn(out, add_issue)
        return MISSING if len(issues) > before else out

    def partial_inner(self) -> "ZObject":
        return self.inner


class ZDefault(Z):
    def __init__(self, inner: Z, default):
        self.inner, self.default = inner, default

    def _parse(self, v, path, issues):
        if v is MISSING:
            return self.default() if callable(self.default) \
                else self.default
        return self.inner._parse(v, path, issues)


class ZPreprocess(Z):
    def __init__(self, fn: Callable, inner: Z):
        self.fn, self.inner = fn, inner

    def _parse(self, v, path, issues):
        return self.inner._parse(self.fn(v), path, issues)


class ZLazy(Z):
    def __init__(self, thunk: Callable[[], Z]):
        self.thunk = thunk

    def _parse(self, v, path, issues):
        return self.thunk()._parse(v, path, issues)


class ZObject(Z):
    """strip (default), strict, or passthrough; shape-order issue
    accumulation with the unrecognized_keys issue appended last
    (ZodObject._parse order)."""

    def __init__(self, shape: dict[str, Z], strict: bool = False,
                 passthrough: bool = False):
        self.shape, self.strict = dict(shape), strict
        self.passthrough = passthrough

    def _parse(self, v, path, issues):
        if parsed_type(v) != "object":
            issues.append(_invalid_type("object", v, path))
            return MISSING
        out, before = {}, len(issues)
        for key, schema in self.shape.items():
            val = v.get(key, MISSING)
            parsed = schema._parse(val, path + [key], issues)
            if parsed is not MISSING:
                out[key] = parsed
        if self.passthrough:
            for k, val in v.items():
                if k not in self.shape:
                    out[k] = val
        elif self.strict:
            extra = [k for k in v if k not in self.shape]
            if extra:
                keys = ", ".join(f"'{k}'" for k in extra)
                issues.append(_issue(
                    "unrecognized_keys", path,
                    f"Unrecognized key(s) in object: {keys}"))
        return MISSING if len(issues) > before else out

    def pick(self, *keys: str) -> "ZObject":
        return ZObject({k: self.shape[k] for k in keys if k in self.shape},
                       strict=False)

    def extend(self, extra: dict[str, Z]) -> "ZObject":
        shape = dict(self.shape)
        shape.update(extra)
        return ZObject(shape, strict=self.strict)

    def merge(self, other: "ZObject") -> "ZObject":
        return self.extend(other.shape)

    def strict_(self) -> "ZObject":
        return ZObject(self.shape, strict=True)

    def partial(self) -> "ZObject":
        return ZObject({k: s if isinstance(s, ZOptional) else ZOptional(s)
                        for k, s in self.shape.items()},
                       strict=self.strict)


# ---------------------------------------------------------------------------
# The reference's schemas (BaseSchema.ts / ScrapeSchema.ts / CrawlSchema.ts)
# ---------------------------------------------------------------------------

ALLOWED_ENGINES = ("auto", "playwright", "cheerio", "puppeteer")
SCRAPE_FORMATS = ("markdown", "html", "text", "screenshot",
                  "screenshot@fullPage", "rawHtml", "json", "summary",
                  "links")
EXTRACT_SOURCES = ("html", "markdown")


def _json_schema_type() -> Z:
    return ZObject({
        "type": ZEnum(["object", "array", "string", "number", "boolean",
                       "null"]),
        "properties": ZRecordOf(ZLazy(_json_schema_type)).optional(),
        "required": ZArray(ZString()).optional(),
        "items": ZUnion([ZLazy(_json_schema_type),
                         ZArray(ZLazy(_json_schema_type))]).optional(),
        "description": ZString().optional(),
    })


class ZRecordOf(Z):
    """z.record(valueSchema): every value parsed, keys kept."""

    def __init__(self, value: Z):
        self.value = value

    def _parse(self, v, path, issues):
        if parsed_type(v) != "object":
            issues.append(_invalid_type("object", v, path))
            return MISSING
        out, before = {}, len(issues)
        for k, item in v.items():
            out[k] = self.value._parse(item, path + [k], issues)
        return MISSING if len(issues) > before else out


JSON_OPTIONS_SCHEMA = ZObject({
    "schema": ZLazy(_json_schema_type).optional(),
    "user_prompt": ZString().optional(),
    "schema_name": ZString().optional(),
    "schema_description": ZString().optional(),
}, strict=True)


def _json_options_preprocess(value):
    """BaseSchema.ts:146-170: trim the string fields, drop empties, and
    collapse an all-empty object to undefined."""
    if value is MISSING or value is None:
        return MISSING
    if isinstance(value, list):
        # JS typeof [] === 'object': arrays enter the cleaning block, have
        # none of the named properties, and collapse to undefined
        return MISSING
    if not isinstance(value, dict):
        return value

    schema_val = value.get("schema")
    has_schema = isinstance(schema_val, dict) and len(schema_val) > 0

    def trimmed(key):
        raw = value.get(key, MISSING)
        return raw.strip() if isinstance(raw, str) else raw

    cleaned: dict[str, Any] = {}
    if has_schema:
        cleaned["schema"] = schema_val
    for key in ("user_prompt", "schema_name", "schema_description"):
        t = trimmed(key)
        if t is not MISSING and t:  # JS truthiness drops '' and null
            cleaned[key] = t
    return cleaned if cleaned else MISSING


_WAIT_SELECTOR_OBJ = ZObject({
    "selector": ZString(),
    "timeout": ZNumber(min=1, max=120000).optional(),
    "state": ZEnum(["attached", "visible", "hidden",
                    "detached"]).optional(),
}, strict=True)

BASE_SHAPE: dict[str, Z] = {
    "template_id": ZString().optional(),
    "variables": ZRecord().optional(),
    "url": ZString(url=True),
    "engine": ZDefault(ZEnum(ALLOWED_ENGINES), "auto"),
    "proxy": ZDefault(ZUnion([ZEnum(["auto", "base", "stealth"]),
                              ZString(url=True)]), "auto"),
    "formats": ZDefault(ZArray(ZEnum(SCRAPE_FORMATS)),
                        lambda: ["markdown"]),
    "timeout": ZDefault(ZNumber(min=1000, max=600000), 60000),
    "wait_for": ZNumber(min=1, max=60000).optional(),
    "wait_until": ZEnum(["load", "domcontentloaded", "networkidle",
                         "commit"]).optional(),
    "wait_for_selector": ZUnion([
        ZString(), _WAIT_SELECTOR_OBJ,
        ZArray(ZUnion([ZString(), _WAIT_SELECTOR_OBJ]), nonempty=True),
    ]).optional(),
    "retry": ZDefault(ZBoolean(), False),
    "include_tags": ZArray(ZString()).optional(),
    "exclude_tags": ZArray(ZString()).optional(),
    "only_main_content": ZDefault(ZBoolean(), True),
    "json_options": ZPreprocess(_json_options_preprocess,
                                JSON_OPTIONS_SCHEMA.optional()),
    "extract_source": ZDefault(ZEnum(EXTRACT_SOURCES), "markdown"),
    "ocr_options": ZDefault(ZBoolean(), False),
    "max_age": ZNumber(min=0).optional(),
    "store_in_cache": ZDefault(ZBoolean(), True),
}

BASE_SCHEMA = ZObject(BASE_SHAPE)

_SCRAPE_PICK = ("url", "template_id", "variables", "engine", "proxy",
                "formats", "timeout", "retry", "wait_for", "wait_until",
                "wait_for_selector", "include_tags", "exclude_tags",
                "only_main_content", "json_options", "extract_source",
                "ocr_options", "max_age", "store_in_cache")

_SCRAPE_PICKED = BASE_SCHEMA.pick(*_SCRAPE_PICK)

_SCRAPE_OPTION_KEYS = ("template_id", "proxy", "formats", "timeout",
                       "retry", "wait_for", "wait_until",
                       "wait_for_selector", "include_tags", "exclude_tags",
                       "only_main_content", "json_options",
                       "extract_source", "ocr_options", "max_age",
                       "store_in_cache")


def _scrape_transform(data: dict) -> dict:
    """ScrapeSchema.ts:27-48: object-literal key order preserved."""
    opts = {}
    for k in _SCRAPE_OPTION_KEYS:
        if k in data:
            opts[k] = data[k]
    return {"url": data.get("url"),
            "engine": data.get("engine"),
            "templateVariables": data.get("variables", MISSING),
            "options": opts}


def parse_scrape_request(obj) -> dict:
    """scrapeSchema.parse: picked base shape (strip mode) + transform."""
    res = _SCRAPE_PICKED.parse(obj)
    if not res["success"]:
        return res
    data = _scrape_transform(res["data"])
    if data["templateVariables"] is MISSING:
        del data["templateVariables"]
    return {"success": True, "data": data, "issues": []}


# CrawlSchema.ts:6-47 crawl-specific options
_CRAWL_EXTRA: dict[str, Z] = {
    "scrape_options": BASE_SCHEMA.pick(
        "proxy", "formats", "timeout", "wait_for", "wait_for_selector",
        "include_tags", "exclude_tags", "only_main_content",
        "json_options", "extract_source", "ocr_options", "max_age",
        "store_in_cache").strict_().partial().optional(),
    "template_id": ZString().optional(),
    "exclude_paths": ZArray(ZString()).optional(),
    "include_paths": ZArray(ZString()).optional(),
    "scrape_paths": ZArray(ZString()).optional(),
    "max_depth": ZDefault(ZNumber(min=1, max=50), 10),
    "strategy": ZDefault(ZEnum(["all", "same-domain", "same-hostname",
                                "same-origin"]), "same-domain"),
    "limit": ZDefault(ZNumber(min=1, max=50000), 100),
}

CRAWL_SCHEMA = BASE_SCHEMA.extend(_CRAWL_EXTRA).strict_()

_CRAWL_OPTION_KEYS = ("template_id", "exclude_paths", "include_paths",
                      "scrape_paths", "max_depth", "limit", "strategy")


def parse_crawl_request(obj) -> dict:
    """crawlSchema.parse (CrawlSchema.ts:75-110): strict merged shape,
    then the transform that re-normalizes scrape options through
    scrapeSchema (defaults applied there for fields the nested
    scrape_options left out; top-level scrape knobs are used when no
    scrape_options object is present)."""
    res = CRAWL_SCHEMA.parse(obj)
    if not res["success"]:
        return res
    data = res["data"]
    if "scrape_options" in data:
        inner = {"url": data.get("url"), "engine": data.get("engine")}
        if "variables" in data:
            inner["variables"] = data["variables"]
        inner.update(data["scrape_options"])
        normalized = parse_scrape_request(inner)["data"]["options"]
    else:
        normalized = parse_scrape_request(data)["data"]["options"]
    options = {}
    for k in _CRAWL_OPTION_KEYS:
        if k in data:
            options[k] = data[k]
    options["scrape_options"] = normalized
    out = {"url": data.get("url"), "engine": data.get("engine")}
    if "variables" in data:
        out["templateVariables"] = data["variables"]
    out["options"] = options
    return {"success": True, "data": out, "issues": []}


# SearchSchema.ts:28-42 — search request (strip mode, NO transform; the
# controller consumes the parsed object directly).  Note scrape_options
# here is the full picked base shape WITH defaults (not .partial() like
# crawl's): a present scrape_options object comes back default-filled.
AVAILABLE_SEARCH_ENGINES = ("google", "searxng", "ac-engine")

SEARCH_SCHEMA = ZObject({
    "template_id": ZString().optional(),
    "variables": ZRecord().optional(),
    "engine": ZEnum(AVAILABLE_SEARCH_ENGINES).optional(),
    "query": ZString(),
    # source chains .max(100).min(1) in that order
    "limit": ZDefault(ZNumber(min=1, max=100), 10),
    "offset": ZDefault(ZNumber(min=0), 0),
    "pages": ZNumber(min=1, max=20).optional(),
    "lang": ZCustom().optional(),
    "country": ZCustom().optional(),
    "timeRange": ZEnum(["day", "week", "month", "year"]).optional(),
    "sources": ZEnum(["web", "images", "news"]).optional(),
    "scrape_options": BASE_SCHEMA.pick(
        "template_id", "variables", "engine", "proxy", "formats",
        "timeout", "wait_until", "wait_for", "wait_for_selector",
        "include_tags", "exclude_tags", "only_main_content",
        "json_options", "extract_source", "ocr_options", "max_age",
        "store_in_cache").strict_().optional(),
    "safe_search": ZNullable(ZNumber(min=0, max=2)).optional(),
})

# MapSchema.ts:17-50 — map request (strict, no transform)
MAP_SCHEMA = ZObject({
    "url": ZString(url=True),
    "limit": ZDefault(ZNumber(min=1, max=50000), 5000),
    "include_subdomains": ZDefault(ZBoolean(), False),
    "ignore_sitemap": ZDefault(ZBoolean(), False),
    "max_age": ZNumber(min=0).optional(),
    "use_index": ZDefault(ZBoolean(), True),
}, strict=True)


def parse_search_request(obj) -> dict:
    """searchSchema.parse (SearchSchema.ts:28-42): no transform."""
    return SEARCH_SCHEMA.parse(obj)


def parse_map_request(obj) -> dict:
    """mapSchema.parse (MapSchema.ts:17-50): no transform."""
    return MAP_SCHEMA.parse(obj)


# --- Webhook / scheduled-task / monitor creation schemas -------------------


def _cron_ok(val) -> bool:
    """cron-parser acceptance via the scheduler core's Vixie parser
    (5-field; cron-parser's optional leading seconds field validated as
    0-59 over the remaining five)."""
    from anycrawl_spark.scheduler import parse_cron

    try:
        parse_cron(val)
        return True
    except Exception:
        fields = str(val).split()
        if len(fields) == 6:
            try:
                parse_cron(" ".join(fields[1:]))
                sec = int(fields[0])
                return 0 <= sec <= 59
            except Exception:
                return False
        return False


def _cron_field() -> Z:
    return ZRefine(ZString(), _cron_ok, "Invalid cron expression")


def _webhook_event_types() -> tuple:
    from anycrawl_spark.webhooks import WEBHOOK_EVENT_TYPES
    return tuple(WEBHOOK_EVENT_TYPES)


# WebhookSchema.ts:4-20 (createWebhookSchema)
def _webhook_create_schema() -> ZObject:
    evs = _webhook_event_types()
    return ZObject({
        "name": ZString(min=1, max=255),
        "description": ZString().optional(),
        "webhook_url": ZString(url=True),
        "event_types": ZRefine(
            ZArray(ZString(), min=1),
            lambda types: all(t in evs for t in types),
            "Invalid event type"),
        "scope": ZDefault(ZEnum(["all", "specific"]), "all"),
        "specific_task_ids": ZArray(ZString(uuid=True)).optional(),
        "custom_headers": ZRecordOf(ZString()).optional(),
        "timeout_seconds": ZDefault(ZNumber(min=1, max=60, int_=True), 10),
        "max_retries": ZDefault(ZNumber(min=0, max=10, int_=True), 3),
        "retry_backoff_multiplier": ZDefault(ZNumber(min=1, max=10), 2),
        "tags": ZArray(ZString()).optional(),
        "metadata": ZRecord().optional(),
    })


def parse_webhook_create(obj) -> dict:
    return _webhook_create_schema().parse(obj)


def parse_webhook_update(obj) -> dict:
    """updateWebhookSchema = createWebhookSchema.partial()."""
    return _webhook_create_schema().partial().parse(obj)


# ScheduledTaskSchema.ts:4-28 (createTaskSchema)
def _task_create_schema() -> ZObject:
    return ZObject({
        "name": ZString(min=1, max=255),
        "description": ZNullable(ZString()).optional(),
        "cron_expression": _cron_field(),
        "timezone": ZDefault(ZString(), "UTC"),
        "task_type": ZEnum(["scrape", "crawl", "search", "template"]),
        "task_payload": ZObject({}, passthrough=True),
        "concurrency_mode": ZDefault(ZEnum(["skip", "queue"]), "skip"),
        "max_executions_per_day":
            ZNullable(ZNumber(int_=True, positive=True)).optional(),
        "tags": ZArray(ZString()).optional(),
        "metadata": ZRecord().optional(),
        "webhook_ids": ZArray(ZString(uuid=True)).optional(),
        "webhook_url": ZString(url=True).optional(),
    })


def parse_task_create(obj) -> dict:
    return _task_create_schema().parse(obj)


# MonitorSchema.ts:18-89 (monitorTargetSchema + createMonitorSchema)
MONITOR_TARGET_SCHEMA = ZObject({
    "url": ZString(url=True),
    "engine": ZDefault(ZEnum(ALLOWED_ENGINES), "auto"),
    "options": ZObject({}, passthrough=True).optional(),
    "location": ZObject({"country": ZString()}).optional(),
})

_DIFF_OPTIONS = ZObject({
    "ignore_selectors": ZArray(ZString(), max=50).optional(),
    "only_main_content": ZBoolean().optional(),
    "min_change_ratio": ZNumber(min=0, max=1).optional(),
})

_NOTIFY_OPTIONS = ZObject({
    "channels": ZDefault(ZArray(ZEnum(["webhook", "email"])),
                         lambda: ["webhook"]),
    "email_recipients": ZArray(ZString(email=True), max=20).optional(),
    "only_meaningful": ZDefault(ZBoolean(), True),
    "thresholds": ZObject({
        "price_change_pct": ZNumber().optional()}).optional(),
})


def _monitor_super_refine(data, add_issue):
    """createMonitorSchema.superRefine (MonitorSchema.ts:72-89)."""
    if data.get("monitor_type") == "price" and "extract_schema" not in data:
        add_issue(["extract_schema"],
                  "extract_schema is required when monitor_type is 'price'")
    notify = data.get("notify_options") or {}
    if "email" in (notify.get("channels") or []) \
            and not notify.get("email_recipients"):
        add_issue(["notify_options", "email_recipients"],
                  "email_recipients is required when 'email' is in "
                  "notify channels")


MONITOR_CREATE_SCHEMA = ZSuperRefine(ZObject({
    "name": ZString(min=1, max=255),
    "description": ZNullable(ZString()).optional(),
    "monitor_type": ZDefault(ZEnum(["webpage", "price"]), "webpage"),
    "cron_expression": _cron_field(),
    "timezone": ZDefault(ZString(), "UTC"),
    "targets": ZArray(MONITOR_TARGET_SCHEMA, min=1, max=50),
    "goal": ZString().optional(),
    "track_mode": ZEnum(["text", "json", "mixed"]).optional(),
    "extract_schema": ZLazy(_json_schema_type).optional(),
    "diff_options": _DIFF_OPTIONS.optional(),
    "notify_options": _NOTIFY_OPTIONS.optional(),
    "concurrency_mode": ZDefault(ZEnum(["skip", "queue"]), "skip"),
    "max_executions_per_day":
        ZNullable(ZNumber(int_=True, positive=True)).optional(),
    "tags": ZArray(ZString(), max=20).optional(),
    "metadata": ZRecord().optional(),
}), _monitor_super_refine)


def parse_monitor_create(obj) -> dict:
    return MONITOR_CREATE_SCHEMA.parse(obj)


def _monitor_update_super_refine(data, add_issue):
    """updateMonitorSchema.superRefine (MonitorSchema.ts:126-146): only
    the email-recipients rule is enforced (the track_mode guard is a
    documented no-op deferred to the controller's merge-time check)."""
    notify = data.get("notify_options") or {}
    if "email" in (notify.get("channels") or []) \
            and not notify.get("email_recipients"):
        add_issue(["notify_options", "email_recipients"],
                  "email_recipients is required when 'email' is in "
                  "notify channels")


MONITOR_UPDATE_SCHEMA = ZSuperRefine(ZObject({
    "name": ZString(min=1, max=255).optional(),
    "description": ZNullable(ZString()).optional(),
    "cron_expression": _cron_field().optional(),
    "timezone": ZString().optional(),
    "targets": ZArray(MONITOR_TARGET_SCHEMA, min=1, max=50).optional(),
    "goal": ZNullable(ZString()).optional(),
    "track_mode": ZEnum(["text", "json", "mixed"]).optional(),
    "extract_schema": ZLazy(_json_schema_type).optional(),
    "diff_options": _DIFF_OPTIONS.optional(),
    "notify_options": ZObject({
        "channels": ZArray(ZEnum(["webhook", "email"])).optional(),
        "email_recipients": ZArray(ZString(email=True), max=20).optional(),
        "only_meaningful": ZBoolean().optional(),
        "thresholds": ZObject({
            "price_change_pct": ZNumber().optional()}).optional(),
    }).optional(),
    "concurrency_mode": ZEnum(["skip", "queue"]).optional(),
    "max_executions_per_day":
        ZNullable(ZNumber(int_=True, positive=True)).optional(),
    "is_active": ZBoolean().optional(),
    "tags": ZArray(ZString(), max=20).optional(),
    "metadata": ZRecord().optional(),
}), _monitor_update_super_refine)


def parse_monitor_update(obj) -> dict:
    return MONITOR_UPDATE_SCHEMA.parse(obj)


def resolve_track_mode(monitor_type: str,
                       track_mode: Optional[str] = None) -> str:
    """MonitorSchema.ts:149-157 resolveTrackMode: explicit wins, else
    price -> json, webpage -> text."""
    if track_mode:
        return track_mode
    return "json" if monitor_type == "price" else "text"


# ---------------------------------------------------------------------------
# Batch surface
# ---------------------------------------------------------------------------


def _stringify(v) -> str:
    """JSON.stringify parity for the transformed config (insertion-order
    keys; JS shortest-roundtrip numbers)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, float):
        return js_number_to_string(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return "[" + ",".join(_stringify(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{json.dumps(k, ensure_ascii=False)}:{_stringify(x)}"
            for k, x in v.items()) + "}"
    return "null"


def _path_str(path: list) -> str:
    return ".".join(str(p) for p in path)


def validate_requests(requests, kind: str = "crawl",
                      json_col: str = "request_json",
                      id_col: str = "rid"):
    """Arrow-batched intake gate over a request log: parse each JSON
    request with the reference's schema and return the verdict columns
    (row-local mapInPandas - no shuffle at any log scale)."""
    import pandas as pd  # noqa: F401

    parse = {"crawl": parse_crawl_request,
             "scrape": parse_scrape_request,
             "search": parse_search_request,
             "map": parse_map_request}[kind]

    schema = (f"{id_col} long, success boolean, n_issues int, "
              "first_code string, first_path string, first_message string, "
              "config_json string")

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        for pdf in batches:
            rows = []
            for rid, raw in zip(pdf[id_col], pdf[json_col]):
                try:
                    obj = json.loads(raw) if raw is not None else None
                except ValueError:
                    obj = None
                res = parse(obj)
                first = res["issues"][0] if res["issues"] else None
                rows.append((
                    rid, res["success"], len(res["issues"]),
                    first["code"] if first else None,
                    _path_str(first["path"]) if first else None,
                    first["message"] if first else None,
                    _stringify(res["data"]) if res["success"] else None))
            yield pd.DataFrame(rows, columns=[
                id_col, "success", "n_issues", "first_code", "first_path",
                "first_message", "config_json"])

    return requests.select(id_col, json_col).mapInPandas(gen, schema)
