"""URL canonicalization + uniqueKey semantics (SURVEY.md §2.2 F1/F2).

Re-expresses the reference's URL normalization:

- ``normalizeUrl`` — ``/root/reference/packages/libs/src/cache/index.ts:130-148``:
  lowercase hostname, strip trailing slash (except root), drop tracking params
  (utm_source, utm_medium, utm_campaign, utm_term, utm_content, fbclid, gclid),
  sort remaining query params; parse failure returns the input unchanged.
- crawlee ``Request.computeUniqueKey`` (dedup key) — referenced at
  ``/root/reference/packages/scrape/src/engines/Base.ts:464-473``: lowercased
  scheme/host, fragment stripped, prefixed with ``"{jobId}-"``.

Two implementations are provided with identical observable output on valid
http(s) URLs:

- :func:`normalize_url` — pure Python, used inside kernel tests and golden
  files.
- :func:`canonical_url_col` — a pyspark ``Column`` built from JVM-side
  functions only (no Python UDF), used in the crawl hot path so Catalyst can
  codegen it.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache as _lru_cache
from urllib.parse import urljoin, urlsplit, urlunsplit

TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "fbclid", "gclid",
)


def _split_query(query: str) -> list[str]:
    return [p for p in query.split("&") if p]


def _param_key(pair: str) -> str:
    return pair.split("=", 1)[0]


def normalize_url(url: str) -> str:
    """Pure-Python normalizeUrl with the reference's exact rule order."""
    try:
        parts = urlsplit(url)
        if not parts.scheme or not parts.netloc:
            return url
        host = parts.hostname.lower() if parts.hostname else ""
        netloc = host
        if parts.port is not None:
            default = {"http": 80, "https": 443}.get(parts.scheme.lower())
            if parts.port != default:
                netloc = f"{host}:{parts.port}"
        if parts.username:
            cred = parts.username + (f":{parts.password}" if parts.password else "")
            netloc = f"{cred}@{netloc}"
        path = parts.path
        if len(path) > 1 and path.endswith("/"):
            path = path[:-1]
        if not path:
            path = "/"
        pairs = [p for p in _split_query(parts.query) if _param_key(p) not in TRACKING_PARAMS]
        pairs.sort(key=_param_key)  # stable, key-only — URLSearchParams.sort() semantics
        query = "&".join(pairs)
        return urlunsplit((parts.scheme.lower(), netloc, path, query, parts.fragment))
    except (ValueError, AttributeError):
        return url


def unique_key(url: str, job_id: str | None = None) -> str:
    """Dedup key: fragment-stripped canonical URL, optionally job-scoped.

    Mirrors crawlee's ``${jobId}-${computeUniqueKey(url)}`` rewrite at
    ``Base.ts:464-473`` (dedup scope = job).
    """
    norm = normalize_url(url)
    norm = norm.split("#", 1)[0]
    return f"{job_id}-{norm}" if job_id else norm


def url_hash(url: str) -> str:
    """sha256 hex of the canonical URL (page_cache.urlHash, PostgreSQL.ts:364-397)."""
    return hashlib.sha256(normalize_url(url).encode("utf-8")).hexdigest()


@_lru_cache(maxsize=512)
def _base_origin(base_url: str) -> tuple[str, str]:
    parts = urlsplit(base_url)
    userinfo, sep, hostport = parts.netloc.rpartition("@")
    return parts.scheme.lower(), userinfo + sep + hostport.lower()


def resolve_url(base_url: str, href: str) -> str | None:
    """Resolve a (possibly relative / malformed) href against a base URL.

    Mirrors ``HTMLTransformer.resolveUrl`` (HTMLTransformer.ts:514-532):
    repairs ``http:/x`` → ``http://x`` before resolution; on failure returns
    the original href.
    """
    fixed = href.strip()
    if fixed.startswith("/") and not fixed.startswith("//"):
        # fast path for the dominant case (root-relative hrefs): equivalent
        # to urljoin + lowercase-netloc reassembly, with the base split
        # cached per page
        try:
            scheme, netloc = _base_origin(base_url)
        except ValueError:
            scheme = ""
        if scheme:
            return f"{scheme}://{netloc}{fixed}"
    if fixed.startswith("http:/") and not fixed.startswith("http://"):
        fixed = "http://" + fixed[6:]
    elif fixed.startswith("https:/") and not fixed.startswith("https://"):
        fixed = "https://" + fixed[7:]
    try:
        # absolute http(s) hrefs: urljoin is the identity (same-scheme with
        # netloc → ref wins; different scheme → ref returned unchanged), so
        # skip straight to the normalization split
        if fixed.startswith("https://") or fixed.startswith("http://"):
            resolved = fixed
        else:
            resolved = urljoin(base_url, fixed)
        parts = urlsplit(resolved)
        if not parts.scheme:
            return href
        # lowercase only the host portion — userinfo is case-significant
        # (normalize_url and canonical_url_col preserve credential case;
        # mangling it here would canonicalize seed-reached and
        # link-discovered copies of the same URL differently)
        userinfo, sep, hostport = parts.netloc.rpartition("@")
        netloc = userinfo + sep + hostport.lower()
        path = parts.path or ("/" if parts.netloc else "")
        return urlunsplit((parts.scheme.lower(), netloc, path, parts.query, parts.fragment))
    except ValueError:
        return href


def host_of(url: str) -> str:
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def origin_of(url: str) -> str:
    try:
        parts = urlsplit(url)
        scheme = parts.scheme.lower()
        host = (parts.hostname or "").lower()
        port = parts.port
        default = {"http": 80, "https": 443}.get(scheme)
        if port is not None and port != default:
            return f"{scheme}://{host}:{port}"
        return f"{scheme}://{host}"
    except ValueError:
        return ""


# Multi-label public suffixes (compact subset of the public-suffix list that
# crawlee's tldts consults for EnqueueStrategy.SameDomain). A host whose last
# two labels are one of these keeps three labels as its registrable domain.
PUBLIC_SUFFIX_2LABEL = frozenset({
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "me.uk", "ltd.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "gr.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.tw", "org.tw", "com.hk", "org.hk",
    "co.kr", "or.kr", "go.kr", "ac.kr",
    "com.mx", "com.ar", "com.sg", "com.my", "com.tr", "com.sa",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "co.za", "org.za", "gov.za", "co.th", "co.id", "co.il", "org.il",
    "com.vn", "com.ph", "com.eg", "com.ng", "com.pk", "com.bd", "com.ua",
})


def base_domain_of(host: str) -> str:
    """Registrable domain: crawlee ``EnqueueStrategy.SameDomain`` semantics
    (the reference's production path, ``Base.ts:437`` → crawlee enqueueLinks
    → tldts). Last two labels, except a multi-label public suffix keeps
    three; single-label hosts (``localhost``) pass through unchanged.

    Note the reference's ``crawlCoordinator.ts:146`` test utility uses exact
    hostname equality for same-domain instead — that is the coordinator's
    simplification, not what the production crawl (crawlee) enforces; we
    follow the production semantics, and ``same-hostname`` covers the exact
    match."""
    labels = host.split(".")
    if len(labels) <= 1:
        return host
    if len(labels) >= 3 and ".".join(labels[-2:]) in PUBLIC_SUFFIX_2LABEL:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def map_base_domain_of(host: str) -> str:
    """MapService.getBaseDomain parity (MapService.ts:322-328): plain
    last-2-label rule with hosts of ≤2 labels passed through unchanged.
    The map/domain filter keeps the reference's own (simpler) rule; the
    crawl strategy uses :func:`base_domain_of` (crawlee semantics)."""
    labels = host.split(".")
    return host if len(labels) <= 2 else ".".join(labels[-2:])


# ---------------------------------------------------------------------------
# Spark Column builders (JVM-side; no Python in the hot path)
# ---------------------------------------------------------------------------

def canonical_url_col(col_name: str):
    """A pyspark Column computing normalize_url entirely with built-ins.

    Assumes well-formed absolute http(s) URLs (guaranteed for corpus URLs,
    which are produced by :func:`resolve_url`). Stays inside whole-stage
    codegen: parse_url / split / filter / array_sort / concat only.
    """
    from pyspark.sql import functions as F

    c = F.col(col_name)
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    # netloc from AUTHORITY (not HOST): keeps userinfo and non-default ports,
    # matching normalize_url. userinfo splits at the LAST '@' (rpartition
    # semantics), credentials rebuild as username[:password] with empty
    # username dropping the credential and empty password dropping the ':'
    # (urlsplit property semantics), default ports (http:80/https:443) strip,
    # leading zeros in ports collapse via int round-trip.
    auth = F.coalesce(F.parse_url(c, F.lit("AUTHORITY")), F.lit(""))
    userinfo = F.regexp_extract(auth, r"^(.*)@", 1)
    hostport = F.regexp_replace(auth, r"^.*@", "")
    username = F.regexp_extract(userinfo, r"^([^:]*)", 1)
    password = F.regexp_extract(userinfo, r"^[^:]*:(.*)$", 1)
    cred = (
        F.when(username == "", "")
        .when(password == "", username)
        .otherwise(F.concat(username, F.lit(":"), password))
    )
    bare_host = F.lower(F.regexp_replace(hostport, r":\d+$", ""))
    port = F.when(hostport.rlike(r":\d+$"),
                  F.regexp_extract(hostport, r":(\d+)$", 1).cast("int"))
    keep_port = port.isNotNull() & ~(
        ((scheme == "http") & (port == 80)) | ((scheme == "https") & (port == 443))
    )
    host = F.concat(
        F.when(cred != "", F.concat(cred, F.lit("@"))).otherwise(F.lit("")),
        bare_host,
        F.when(keep_port, F.concat(F.lit(":"), port.cast("string")))
         .otherwise(F.lit("")),
    )
    path = F.parse_url(c, F.lit("PATH"))
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"), F.expr(f"substring(parse_url({col_name}, 'PATH'), 1, length(parse_url({col_name}, 'PATH')) - 1)")
    ).otherwise(F.when(path == "", "/").otherwise(path))
    query = F.coalesce(F.parse_url(c, F.lit("QUERY")), F.lit(""))
    tracking = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    sorted_query = F.expr(
        f"array_join(array_sort(filter(split(coalesce(parse_url({col_name}, 'QUERY'), ''), '&'),"
        f" p -> p != '' AND NOT array_contains(array({tracking}), split(p, '=')[0])),"
        " (a, b) -> CASE WHEN split(a,'=')[0] < split(b,'=')[0] THEN -1"
        " WHEN split(a,'=')[0] > split(b,'=')[0] THEN 1 ELSE 0 END), '&')"
    )
    frag = F.parse_url(c, F.lit("REF"))
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(sorted_query != "", F.concat(F.lit("?"), sorted_query)).otherwise(F.lit("")),
        F.when(frag.isNotNull() & (frag != ""), F.concat(F.lit("#"), frag)).otherwise(F.lit("")),
    )


def url_hash_col(col_name: str):
    from pyspark.sql import functions as F

    return F.sha2(canonical_url_col(col_name), 256)


def base_domain_col(host_col):
    """JVM registrable-domain of a host Column — same semantics as
    :func:`base_domain_of` (crawlee SameDomain): single-label hosts pass
    through (the old ``slice(-2)`` expression returned ``''`` for
    ``localhost``), multi-label public suffixes keep three labels."""
    from pyspark.sql import functions as F

    labels = F.split(host_col, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    last3 = F.array_join(F.slice(labels, -3, 3), ".")
    return (
        F.when(n <= 1, host_col)
        .when((n >= 3) & last2.isin(*sorted(PUBLIC_SUFFIX_2LABEL)), last3)
        .otherwise(last2)
    )


def map_base_domain_col(host_col):
    """JVM MapService.getBaseDomain (MapService.ts:322-328): hosts of ≤2
    labels pass through, else last two labels."""
    from pyspark.sql import functions as F

    labels = F.split(host_col, r"\.")
    return F.when(F.size(labels) <= 2, host_col).otherwise(
        F.array_join(F.slice(labels, -2, 2), "."))


def host_col(col_name: str):
    from pyspark.sql import functions as F

    return F.lower(F.parse_url(F.col(col_name), F.lit("HOST")))
