"""Politeness, robots enforcement, path filters, skew salting
(SURVEY.md §2.2 F3-F9, §2.10 items 1/3; north rule: per-host priority queue,
robots rules, per-domain politeness budgets, explicit salting of skewed
hosts).

All of this but ``admit_arrow`` is JVM-side DataFrame code — window
functions, broadcast joins, and rlike predicates. No Python executes per
row. ``admit_arrow`` is the per-host budget's driver twin over an Arrow
frontier, for the crawl, whose frontier the zod limit keeps on the driver.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# include/exclude path patterns (F4): minimatch globs (dot:true) or /re/flags
# literals — Base.ts:391-417, crawlCoordinator.ts:155-168. Compiled
# driver-side to Java-regex strings, applied via rlike (JVM-side).
# ---------------------------------------------------------------------------

_REGEX_LITERAL = re.compile(r"^/(.*)/([gimsuy]*)$")


def _glob_segment_to_regex(seg: str) -> str:
    out = []
    i, n = 0, len(seg)
    while i < n:
        c = seg[i]
        if c == "*":
            out.append("[^/]*")
            i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            # character class ([0-9], [!abc] → [^abc]); ']' as the first
            # member is literal, unterminated '[' is a literal bracket —
            # glob(7)/minimatch rules
            j = i + 1
            if j < n and seg[j] in "!^":
                j += 1
            if j < n and seg[j] == "]":
                j += 1
            while j < n and seg[j] != "]":
                j += 1
            if j >= n:
                out.append(r"\[")
                i += 1
            else:
                inner = seg[i + 1:j]
                if inner[:1] in ("!", "^"):
                    inner = "^" + inner[1:]
                # '&&' is set-intersection in Java regex classes — escape it
                out.append("[" + inner.replace("&&", r"\&\&") + "]")
                i = j + 1
        elif c in ".+^$(){}|\\":
            out.append("\\" + c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _expand_braces(pattern: str) -> list[str]:
    """minimatch-style brace expansion: ``{a,b{c,d}}`` → a, bc, bd and
    numeric ranges ``{1..3}`` → 1 2 3. Comma-less braces stay literal
    (minimatch leaves ``a{b}c`` untouched)."""
    i = pattern.find("{")
    while i != -1:
        depth, end = 0, -1
        for j in range(i, len(pattern)):
            if pattern[j] == "{":
                depth += 1
            elif pattern[j] == "}":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        if end == -1:
            return [pattern]
        body = pattern[i + 1:end]
        m = re.fullmatch(r"(-?\d+)\.\.(-?\d+)", body)
        if m:
            a, b = int(m.group(1)), int(m.group(2))
            step = 1 if b >= a else -1
            parts = [str(v) for v in range(a, b + step, step)]
        else:
            parts, buf, d = [], [], 0
            for ch in body:
                if ch == "{":
                    d += 1
                elif ch == "}":
                    d -= 1
                if ch == "," and d == 0:
                    parts.append("".join(buf))
                    buf = []
                else:
                    buf.append(ch)
            parts.append("".join(buf))
            if len(parts) == 1:  # no top-level comma: literal braces
                i = pattern.find("{", end + 1)
                continue
        out: list[str] = []
        for p in parts:
            out.extend(_expand_braces(pattern[:i] + p + pattern[end + 1:]))
        return out
    return [pattern]


def glob_to_regex(glob: str, dot: bool = True) -> str:
    """minimatch-compatible translation, per-segment like minimatch itself:
    the pattern splits on ``/`` and a ``**`` segment (globstar) matches
    ZERO or more whole segments — so a trailing ``/**`` matches a URL that
    ends at the previous segment (``**/blog/**`` matches ``.../blog``), a
    leading ``**/`` matches zero leading segments, and ``a/**/b`` matches
    ``a/b``. ``*``/``?`` never cross a ``/``; ``**`` inside a segment
    (``a**b``) degrades to ``*``, as in minimatch.

    ``dot`` mirrors minimatch's option: the crawl-scope matcher passes
    ``{dot: true}`` upstream (Base.ts:545) — the default here — while the
    template domain validator uses minimatch defaults (dot:false), where a
    wildcard at a segment start refuses to match a leading ``.`` and
    globstars refuse to cross dot-led segments, unless the pattern segment
    itself starts with a literal dot."""
    segments = glob.split("/")
    tokens: list[str | None] = []  # None = globstar
    nodot = "" if dot else r"(?!\.)"
    for seg in segments:
        if seg == "**":
            tok = None
        else:
            tok = _glob_segment_to_regex(seg)
            if not dot and not seg.startswith("."):
                tok = nodot + tok
        if tok is None and tokens and tokens[-1] is None:
            continue  # collapse consecutive globstars
        tokens.append(tok)
    out = []
    n = len(tokens)
    # dot:false globstars advance segment-by-segment so each crossed
    # segment gets the leading-dot refusal
    g_bare = ".*" if dot else rf"(?:{nodot}[^/]*(?:/{nodot}[^/]*)*)?"
    g_lead = r"(?:.*/)?" if dot else rf"(?:{nodot}[^/]*/)*"
    g_trail = r"(?:/.*)?" if dot else rf"(?:/{nodot}[^/]*)*"
    g_mid = r"/(?:.*/)?" if dot else rf"/(?:{nodot}[^/]*/)*"
    for j, tok in enumerate(tokens):
        if tok is None:
            if n == 1:
                out.append(g_bare)           # bare '**'
            elif j == 0:
                out.append(g_lead)           # leading '**/' (zero+ segments)
            elif j == n - 1:
                out.append(g_trail)          # trailing '/**' (zero+ segments)
            else:
                out.append(g_mid)            # interior '/**/' (zero+ segments)
        else:
            if j > 0 and tokens[j - 1] is not None:
                out.append("/")
            out.append(tok)
    return "^" + "".join(out) + "$"


def compile_path_patterns(patterns: list[str]) -> list[str]:
    """Each pattern → Java-regex string. ``/re/flags`` literals pass through
    (flags other than i are dropped — crawl patterns in practice use none).
    Globs support minimatch braces (``*.{html,htm}`` compiles to one
    alternation regex) and character classes; pattern-level ``!`` negation
    is NOT supported (document-level caveat, like the /re/flags one)."""
    compiled = []
    for pattern in patterns or []:
        m = _REGEX_LITERAL.match(pattern)
        if m:
            body, flags = m.group(1), m.group(2)
            compiled.append(("(?i)" if "i" in flags else "") + body)
            continue
        expansions = _expand_braces(pattern)
        if len(expansions) == 1:
            compiled.append(glob_to_regex(expansions[0]))
        else:  # one regex per pattern: alternation over the expansions
            bodies = [glob_to_regex(e)[1:-1] for e in expansions]
            compiled.append("^(?:" + "|".join(bodies) + ")$")
    return compiled


def path_filter_cond(url_col, include: list[str], exclude: list[str]):
    """Boolean Column: url passes include (any, if provided) and no exclude.
    Semantics of crawlCoordinator.matchesPaths (crawlCoordinator.ts:155-168)."""
    cond = F.lit(True)
    inc = compile_path_patterns(include)
    exc = compile_path_patterns(exclude)
    if inc:
        inc_cond = F.lit(False)
        for rx in inc:
            inc_cond = inc_cond | url_col.rlike(rx)
        cond = cond & inc_cond
    for rx in exc:
        cond = cond & ~url_col.rlike(rx)
    return cond


# ---------------------------------------------------------------------------
# Crawl strategy (F3) — crawlCoordinator.ts:138-153 / CrawlSchema.ts:43
# ---------------------------------------------------------------------------

def strategy_cond(host_col, origin_col, seed_url: str, strategy: str):
    from anycrawl_spark.kernel.canonical import (
        base_domain_col,
        base_domain_of,
        host_of,
        origin_of,
    )

    seed_host = host_of(seed_url)
    if strategy == "same-hostname":
        return host_col == seed_host
    if strategy == "same-domain":
        # crawlee EnqueueStrategy.SameDomain = same registrable domain — the
        # production path (Base.ts:437 → crawlee enqueueLinks/tldts). The
        # reference's crawlCoordinator.ts:146 test utility simplifies this
        # to exact-host equality; we follow production semantics
        # (same-hostname covers the exact match). base_domain_col falls back
        # to the whole host for single-label hosts (localhost seeds work).
        return base_domain_col(host_col) == base_domain_of(seed_host)
    if strategy == "same-origin":
        return origin_col == origin_of(seed_url)
    return F.lit(True)  # 'all'


# ---------------------------------------------------------------------------
# Robots enforcement (north-rule delta #1; fixture schema FIXTURES.md §3)
# ---------------------------------------------------------------------------

def robots_allowed(candidates: DataFrame, robots: DataFrame | None,
                   host_col: str = "host", path_col: str = "path") -> DataFrame:
    """Drop candidates whose path matches a disallow prefix for their host.
    robots is tiny (one row per host) → broadcast join; prefix test is an
    array ``exists`` — all JVM-side.

    Dispatch: a robots table carrying a ``rules`` column (the compiled
    spec-rule shape from :func:`compile_robots_rules` /
    :func:`robots_rules_from_texts`) routes to the full RFC 9309 matcher;
    the fixture shape (``disallow`` prefix array) keeps this fast path."""
    if robots is None:
        return candidates
    if "rules" in robots.columns:
        url_col = "url" if "url" in candidates.columns else None
        return robots_allowed_spec(candidates, robots, host_col=host_col,
                                   path_col=path_col, url_col=url_col)
    joined = candidates.join(
        F.broadcast(robots.select(F.col("host").alias("__rhost"), "disallow")),
        on=candidates[host_col] == F.col("__rhost"),
        how="left",
    )
    denied = F.when(
        F.col("disallow").isNotNull(),
        F.exists("disallow", lambda p: F.col(path_col).startswith(p)),
    ).otherwise(F.lit(False))
    return joined.where(~denied).drop("__rhost", "disallow")


# ---------------------------------------------------------------------------
# Per-host budget + skew salting (F7/F8 generalized; SURVEY.md §3.2)
# ---------------------------------------------------------------------------

def apply_host_budget(frontier: DataFrame, budget: int | None,
                      host_col: str = "host",
                      order_cols: tuple[str, ...] = ("depth", "seq"),
                      salt_n: int = 0,
                      url_col: str = "url",
                      scope: str = "host") -> tuple[DataFrame, DataFrame]:
    """Split a round's frontier into (admitted, deferred) by per-host top-k
    — the per-host priority queue of the north rule (priority = order_cols).

    ``scope='domain'`` budgets by registrable domain instead (the north
    rule's "per-domain politeness budgets"): all subdomains of one site
    share the budget. Implemented by swapping the window key — the shuffle
    then co-locates by domain.

    The window shuffles by host — that shuffle IS the politeness mechanism
    (it also co-locates each host's rows, which downstream per-host fetch
    would want). Returns deferred rows so the round loop re-enqueues them.

    With ``salt_n > 0`` the top-k runs in two stages so one hot host cannot
    serialize the window sort into a single task: stage 1 keeps the top
    ``budget`` rows per (host, salt) bucket in parallel; stage 2 runs the
    exact per-host top-k over the surviving ``<= budget x salt_n`` rows per
    host. The per-host winners of stage 2 all survive stage 1 (each is in
    its bucket's own top-budget), so the result is identical to the
    single-stage window.
    """
    if not budget or budget <= 0:
        return frontier, frontier.limit(0)
    if scope == "domain":
        from anycrawl_spark.kernel.canonical import base_domain_col

        frontier = frontier.withColumn(
            "__budget_key", base_domain_col(F.col(host_col)))
        admitted, deferred = apply_host_budget(
            frontier, budget, host_col="__budget_key", order_cols=order_cols,
            salt_n=salt_n, url_col=url_col, scope="host")
        return admitted.drop("__budget_key"), deferred.drop("__budget_key")
    order = [F.col(c) for c in order_cols]
    if salt_n and salt_n > 1:
        salt = F.pmod(
            F.conv(F.substring(F.sha2(F.col(url_col), 256), 1, 8), 16, 10).cast("long"),
            F.lit(salt_n),
        )
        salted = frontier.withColumn("__salt", salt)
        w1 = Window.partitionBy(host_col, "__salt").orderBy(*order)
        stage1 = salted.withColumn("__r1", F.row_number().over(w1))
        survivors = stage1.where(F.col("__r1") <= budget).drop("__r1")
        w2 = Window.partitionBy(host_col).orderBy(*order)
        ranked = survivors.withColumn("__host_rank", F.row_number().over(w2))
        admitted = ranked.where(F.col("__host_rank") <= budget).drop("__host_rank", "__salt")
        # deferred = exact multiset complement: stage-1 losers + stage-2
        # losers. (A url anti-join here would drop BOTH copies of any
        # duplicate-url rows — admitted ∪ deferred must equal the frontier
        # row-for-row, matching the unsalted path's invariant.)
        deferred = (
            stage1.where(F.col("__r1") > budget).drop("__r1", "__salt")
            .unionByName(
                ranked.where(F.col("__host_rank") > budget)
                .drop("__host_rank", "__salt"))
        )
        return admitted, deferred
    w = Window.partitionBy(host_col).orderBy(*order)
    ranked = frontier.withColumn("__host_rank", F.row_number().over(w))
    admitted = ranked.where(F.col("__host_rank") <= budget).drop("__host_rank")
    deferred = ranked.where(F.col("__host_rank") > budget).drop("__host_rank")
    return admitted, deferred


def admit_arrow(frontier, budget: int, scope: str = "host",
                batch_size: int = 0):
    """The driver twin of ``apply_host_budget(frontier, budget,
    order_cols=("depth", "seq"), scope=scope)`` followed by the
    coordinator's FIFO batch ``orderBy("seq").limit(batch_size)``, over a
    ``pa.Table`` frontier whose ``seq`` is unique: at most ``budget`` rows
    per budget key, lowest (depth, seq) first, then the first
    ``batch_size`` of those by seq (0 turns either bound off). Returns the
    admitted rows in seq order.

    Null hosts share one key, as the window's partitionBy groups them. The
    ranking is vectorized: hosts are dictionary-encoded, so with
    ``scope='domain'`` base_domain_of runs once per distinct host."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from anycrawl_spark.kernel.canonical import base_domain_of

    seq = frontier.column("seq").to_numpy()
    keep = np.arange(frontier.num_rows)
    if budget:
        hosts = pc.dictionary_encode(
            frontier.column("host").combine_chunks(), null_encoding="encode")
        key = hosts.indices.to_numpy()
        if scope == "domain":
            domains = pa.array([h if h is None else base_domain_of(h)
                                for h in hosts.dictionary.to_pylist()],
                               pa.string())
            key = pc.dictionary_encode(
                domains, null_encoding="encode").indices.to_numpy()[key]
        order = np.lexsort((seq, frontier.column("depth").to_numpy(), key))
        # rank within each key's run of the sorted order
        k = key[order]
        starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
        rank = np.arange(len(k)) - np.repeat(starts, np.diff(
            np.r_[starts, len(k)]))
        keep = order[rank < budget]
    keep = keep[np.argsort(seq[keep])]
    if batch_size:
        keep = keep[:batch_size]
    return frontier.take(keep)


def salt_skewed_hosts(df: DataFrame, host_col: str = "host",
                      url_col: str = "url", salt_n: int = 16,
                      skew_threshold: int = 10_000) -> DataFrame:
    """Explicit skew handling (north rule): hosts with more rows than
    ``skew_threshold`` in this batch get a salted partition key
    ``host#<pmod(sha2(url),salt_n)>`` so one hot host spreads over ``salt_n``
    tasks; cold hosts keep key = host. AQE's skew-join split complements this
    but the salt also covers aggregations/windows AQE cannot rewrite."""
    counts = df.groupBy(host_col).agg(F.count("*").alias("__host_n"))
    with_n = df.join(F.broadcast(counts), host_col, "left")
    salted_key = F.when(
        F.col("__host_n") > skew_threshold,
        F.concat(
            F.col(host_col), F.lit("#"),
            F.pmod(F.conv(F.substring(F.sha2(F.col(url_col), 256), 1, 8), 16, 10).cast("long"),
                   F.lit(salt_n)).cast("string"),
        ),
    ).otherwise(F.col(host_col))
    return with_n.withColumn("salted_host", salted_key).drop("__host_n")


# ---------------------------------------------------------------------------
# Spec-compliant robots.txt (RFC 9309 / Google semantics), the matcher the
# reference gets from crawlee's RobotsTxtFile (robots-parser): '*' wildcards,
# trailing '$' end anchor, Allow overrides, longest-pattern-wins with
# allow-beats-disallow on ties. The crawl loop's fixture path keeps the
# prefix-only fast matcher (robots_allowed) — identical results on prefix
# rules — while this full matcher serves real-world robots.txt rule sets.
# ---------------------------------------------------------------------------

ROBOTS_RULES_SCHEMA = "host string, rules array<struct<spec:int, allow:int, rx:string>>"


def robots_pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern → Java/RE2 regex: anchored at path start, '*'
    crosses anything, a trailing '$' anchors the end (elsewhere literal)."""
    anchor_end = pattern.endswith("$")
    body = pattern[:-1] if anchor_end else pattern
    out = []
    for c in body:
        if c == "*":
            out.append(".*")
        elif c in ".+^$()[]{}|\\?":
            out.append("\\" + c)
        else:
            out.append(c)
    return "^" + "".join(out) + ("$" if anchor_end else "")


def parse_robots_txt(text: str, user_agent: str = "anycrawl") -> dict:
    """Parse robots.txt into {'rules': [(allow: bool, pattern: str)],
    'sitemaps': [...]} for the most specific matching user-agent group
    (longest agent token contained in ``user_agent``, '*' as fallback) —
    robots-parser group selection. Empty Disallow lines are no-ops (allow
    all); rules keep file order (order is irrelevant under longest-match)."""
    groups: dict[str, list[tuple[bool, str]]] = {}
    sitemaps: list[str] = []
    current_agents: list[str] = []
    last_was_agent = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            agent = value.lower()
            if last_was_agent:
                current_agents.append(agent)
            else:
                current_agents = [agent]
            for a in current_agents:
                groups.setdefault(a, [])
            last_was_agent = True
            continue
        last_was_agent = False
        if field == "sitemap":
            sitemaps.append(value)
        elif field in ("allow", "disallow") and current_agents:
            if not value:
                continue  # empty pattern matches nothing
            for a in current_agents:
                groups.setdefault(a, []).append((field == "allow", value))
    ua = user_agent.lower()
    chosen, chosen_len = None, -1
    for agent in groups:
        if agent != "*" and agent in ua and len(agent) > chosen_len:
            chosen, chosen_len = agent, len(agent)
    if chosen is None and "*" in groups:
        chosen = "*"
    return {"rules": groups.get(chosen, []), "sitemaps": sitemaps}


def compile_robots_rules(spark, per_host: dict[str, list[tuple[bool, str]]]) -> DataFrame:
    """Driver-side compile: host → array<struct(spec, allow, rx)> where
    spec = raw pattern length (the RFC's specificity measure)."""
    rows = [
        (host, [(len(p), int(allow), robots_pattern_to_regex(p))
                for allow, p in rules])
        for host, rules in per_host.items()
    ]
    return spark.createDataFrame(rows, ROBOTS_RULES_SCHEMA)


def robots_allowed_spec(candidates: DataFrame, rules: DataFrame,
                        host_col: str = "host",
                        path_col: str = "path",
                        url_col: str | None = None) -> DataFrame:
    """Drop candidates denied under full robots semantics. Rules are tiny
    (one row per host) → broadcast join; per-candidate evaluation is a JVM
    higher-order filter + array_max — the struct max picks the longest
    matching pattern, allow winning ties (least-restrictive rule).

    When ``url_col`` is given, rules match against path+query — what
    robots-parser (and the RFC) actually matches — instead of the bare
    ``path_col``."""
    if url_col is not None:
        candidates = candidates.withColumn(
            "__rpath",
            F.concat(
                F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")),
                           F.lit("/")),
                F.coalesce(
                    F.concat(F.lit("?"),
                             F.parse_url(F.col(url_col), F.lit("QUERY"))),
                    F.lit(""))))
        match_col = "__rpath"
    else:
        match_col = path_col
    joined = candidates.join(
        F.broadcast(rules.withColumnRenamed("host", "__rhost")
                    .withColumnRenamed("rules", "__rrules")),
        on=candidates[host_col] == F.col("__rhost"),
        how="left",
    )
    best = F.expr(
        f"array_max(transform(filter(__rrules, r -> {match_col} rlike r.rx),"
        " r -> struct(r.spec AS spec, r.allow AS allow)))")
    allowed = best.isNull() | (best["allow"] == 1)
    out = joined.where(allowed).drop("__rhost", "__rrules")
    return out.drop("__rpath") if url_col is not None else out


def robots_rules_from_texts(spark, texts: dict[str, str],
                            user_agent: str = "anycrawl") -> DataFrame:
    """Raw per-host robots.txt bodies → compiled spec-rule table (the shape
    :func:`robots_allowed` dispatches to the full matcher). Sitemap URLs are
    carried alongside for the map path."""
    parsed = {host: parse_robots_txt(text, user_agent)
              for host, text in texts.items()}
    rows = [
        (host,
         [(len(p), int(allow), robots_pattern_to_regex(p))
          for allow, p in info["rules"]],
         info["sitemaps"])
        for host, info in parsed.items()
    ]
    return spark.createDataFrame(
        rows, ROBOTS_RULES_SCHEMA + ", sitemaps array<string>")
