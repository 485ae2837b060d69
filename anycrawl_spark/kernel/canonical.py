"""URL canonicalization + uniqueKey semantics (SURVEY.md §2.2 F1/F2).

Re-expresses the reference's URL normalization:

- ``normalizeUrl`` — ``/root/reference/packages/libs/src/cache/index.ts:130-148``:
  lowercase hostname, strip trailing slash (except root), drop tracking params
  (utm_source, utm_medium, utm_campaign, utm_term, utm_content, fbclid, gclid),
  sort remaining query params; parse failure returns the input unchanged.
- crawlee ``Request.computeUniqueKey`` (dedup key) — referenced at
  ``/root/reference/packages/scrape/src/engines/Base.ts:464-473``: lowercased
  scheme/host, fragment stripped, prefixed with ``"{jobId}-"``.

Two implementations split with urlsplit's grammar and agree on every string:

- :func:`normalize_url` (with :func:`host_of`, :func:`origin_of`) — pure
  Python, the reference for the kernel tests and golden files.
- :class:`UrlSplit` / :func:`canonical_url_col` — pyspark Columns of JVM
  built-ins (no Python UDF), total on every string, for the crawl hot path.

Neither splits a bracketed (IPv6) authority: urlsplit drops the brackets
(``http://[::1]/`` has hostname ``::1``) where ``new URL`` keeps them, so a
URL with one keeps itself as its key.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache
from urllib.parse import urljoin, urlsplit, urlunsplit, uses_netloc

from pyspark.sql import functions as F

TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "fbclid", "gclid",
)


def _param_key(pair: str) -> str:
    return pair.split("=", 1)[0]


def split_url(url: str):
    """``urlsplit``, refusing a bracketed authority too (ValueError)."""
    parts = urlsplit(url)
    if "[" in parts.netloc:
        raise ValueError(f"bracketed authority in {url!r}")
    return parts


def normalize_url(url: str) -> str:
    """Pure-Python normalizeUrl with the reference's exact rule order."""
    try:
        parts = split_url(url)
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
        pairs = [p for p in parts.query.split("&") if p and _param_key(p) not in TRACKING_PARAMS]
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
        return (split_url(url).hostname or "").lower()
    except ValueError:
        return ""


def origin_of(url: str) -> str:
    try:
        parts = split_url(url)
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

# urlsplit's grammar, RFC 3986 appendix B with urlsplit's scheme rule:
# scheme ':' ['//' netloc] path ['?' query] ['#' fragment]
_SPLIT_RX = (r"(?s)^(?:([A-Za-z][A-Za-z0-9+.-]*):)?(?://([^/?#]*))?([^?#]*)"
             r"(?:\?([^#]*))?(?:#(.*))?")
# a pair whose key (the text before its first '=') is a tracking param
_TRACKING_RX = f"(?:^|&)(?:{'|'.join(TRACKING_PARAMS)})(?:=[^&]*)?(?=&|\\z)"
# urlsplit drops the leading C0 controls and spaces, then every tab, CR, LF
_C0_OR_SPACE = "".join(map(chr, range(0x21)))
# The characters whose NFKC form holds one of '/?#@:' (Unicode 14.0, as
# Python 3.11): urlsplit raises on a non-ASCII netloc holding one.
NFKC_NETLOC_DELIMS = ("\u2047\u2048\u2049\u2100\u2101\u2105\u2106\u2a74\ufe13\ufe16"
                      "\ufe55\ufe56\ufe5f\ufe6b\uff03\uff0f\uff1a\uff1f\uff20")


def _or(part, default: str):
    return F.when(part == "", default).otherwise(part)


def _prefixed(sep: str, part):
    return F.when(part == "", "").otherwise(F.concat(F.lit(sep), part))


class UrlSplit:
    """One split of a string Column with urlsplit's grammar: codegen'd JVM
    built-ins, no parse_url, cast, index or lambda, so total on every
    string. ``canonical`` is :func:`normalize_url`, ``key`` the same
    without its fragment (the crawlee uniqueKey), ``host`` :func:`host_of`,
    ``origin`` :func:`origin_of`, ``path`` the path of
    ``split_url(normalize_url(url))`` ('/' when empty or unsplittable) and
    ``path_query`` the input's own path and '?' query (what robots rules
    match). ``stage`` gets each layer of shared parts as a dict of Columns
    and returns the Columns to build on: ``_canonical_cols`` projects each
    layer once, where one inlined expression repeats a part in every
    branch that reads it."""

    def __init__(self, url, stage=lambda cols: cols):
        s = F.ltrim(F.translate(url, "\t\r\n", ""), F.lit(_C0_OR_SPACE))
        scheme, netloc, p, query, fragment = stage({
            n: F.regexp_extract(s, _SPLIT_RX, i) for i, n in enumerate(
                ("scheme", "netloc", "path", "query", "fragment"), 1)}).values()
        scheme = F.lower(scheme)
        hostinfo = F.substring_index(netloc, "@", -1)
        hostname = F.lower(F.substring_index(hostinfo, ":", 1))
        # urlsplit's port is '' or 0-65535 in ASCII digits, else it raises;
        # normalize_url writes str(int(port)) unless it is the default
        port = F.regexp_extract(hostinfo, r"(?s)^[^:]*:(.*)", 1)
        digits = F.regexp_extract(port, r"^0*([0-9]{1,5})\z", 1)
        port_ok = (port == "") | ((digits != "") & ((F.length(digits) < 5) | (digits <= "65535")))
        default = ((port == "") | ((scheme == "http") & (digits == "80"))
                   | ((scheme == "https") & (digits == "443")))
        # split_url refuses a netloc holding a bracket or an NFKC delimiter
        splittable = ~netloc.rlike(f"[\\[\\]{NFKC_NETLOC_DELIMS}]")
        parts = stage({
            "scheme": scheme, "path": p, "query": query, "fragment": fragment,
            "userinfo": F.left(netloc, F.length(netloc) - F.length(hostinfo) - 1),
            "hostname": hostname, "splittable": splittable, "port_ok": port_ok,
            "hostport": F.concat(hostname, F.when(default, "").otherwise(
                F.concat(F.lit(":"), digits))),
            # normalize_url rebuilds the URL, else returns it unchanged
            "valid": (scheme != "") & (netloc != "") & splittable & port_ok,
            "norm_path": F.when((F.length(p) > 1) & p.endswith("/"),
                                F.left(p, F.length(p) - 1)).otherwise(_or(p, "/")),
        })
        (scheme, p, query, fragment, userinfo, hostname, splittable, port_ok,
         hostport, valid, norm_path) = parts.values()
        self.host = F.when(splittable, hostname).otherwise("")
        self.origin = F.when(splittable & port_ok, F.concat(
            scheme, F.lit("://"), hostport)).otherwise("")
        self.path = F.when(~splittable, "/").when(valid, norm_path).otherwise(_or(p, "/"))
        self.path_query = F.concat(_or(p, "/"), _prefixed("?", query))

        # credentials rebuild as username[:password]: an empty username
        # drops them, an empty password drops its ':'
        username = F.substring_index(userinfo, ":", 1)
        cred = (F.when(username == "", "")
                .when(userinfo == F.concat(username, F.lit(":")), F.concat(username, F.lit("@")))
                .otherwise(F.concat(userinfo, F.lit("@"))))
        netloc = F.concat(cred, hostport)
        # urlunsplit writes '//' before a netloc, and before an empty one
        # under a uses_netloc scheme unless the path starts with '//'
        sep = F.when((netloc != "") | (scheme.isin(*uses_netloc)
                                       & ~norm_path.startswith("//")), "://").otherwise(":")
        # drop the tracking pairs and the empty ones, then sort the rest by
        # key, stably (URLSearchParams.sort()): (key, position, pair)
        # structs sort as that with no lambda, which would stop codegen
        q = F.regexp_replace(F.regexp_replace(query, _TRACKING_RX, ""),
                             r"^&+|&+\z|&(?=&)", "")
        pairs = F.split(q, "&")
        ranked = F.sort_array(F.arrays_zip(
            F.split(F.regexp_replace(q, "=[^&]*", ""), "&").alias("k"),
            F.sequence(F.lit(1), F.size(pairs)).alias("i"), pairs.alias("p")))
        self.key = F.when(valid, F.concat(
            scheme, sep, netloc, norm_path, _prefixed("?", F.array_join(ranked["p"], "&")),
        )).otherwise(F.substring_index(url, "#", 1))
        self.canonical = F.when(valid, F.concat(self.key, _prefixed("#", fragment))
                                ).otherwise(url)


def canonical_url_col(col_name: str):
    """A pyspark Column computing :func:`normalize_url` with built-ins only:
    it splits with urlsplit's grammar, is total, and equals normalize_url
    on every string."""
    return UrlSplit(F.col(col_name)).canonical


def base_domain_col(host_col):
    """JVM registrable-domain of a host Column — same semantics as
    :func:`base_domain_of` (crawlee SameDomain): single-label hosts pass
    through (the old ``slice(-2)`` expression returned ``''`` for
    ``localhost``), multi-label public suffixes keep three labels."""
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
