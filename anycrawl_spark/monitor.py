"""Monitor / diff operators (SURVEY.md §2.8 M1-M5).

Re-expresses ``packages/scrape/src/monitor/normalize.ts:14-86`` and
``monitor/diff.ts:24-261``: content normalization + hashing are JVM column
expressions; the line-level LCS diff is a pure function applied per snapshot
pair via a vectorized UDF over a ``lag()`` window join.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, StringType, StructField,
    StructType,
)


def normalize_content_col(markdown="markdown", text="text",
                          html="html", raw_html="raw_html"):
    """M1 (normalize.ts:14-78): pick markdown→text→html→rawHtml, collapse
    ≥3 newlines, trim — as a JVM column expression."""
    picked = F.coalesce(*[
        F.when(F.col(c).isNotNull() & (F.col(c) != ""), F.col(c))
        for c in (markdown, text, html, raw_html)
    ], F.lit(""))
    return F.trim(F.regexp_replace(picked, r"\n{3,}", "\n\n"))


def lcs_diff(old: str, new: str) -> dict:
    """M3 (diff.ts:24-152): line-level LCS diff → added/removed counts,
    unified-style hunks, change ratio."""
    old_lines = old.split("\n") if old else []
    new_lines = new.split("\n") if new else []
    n, m = len(old_lines), len(new_lines)
    # LCS table (small inputs: monitor snapshots are normalized text)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for i in range(n - 1, -1, -1):
        row, nxt = dp[i], dp[i + 1]
        for j in range(m - 1, -1, -1):
            if old_lines[i] == new_lines[j]:
                row[j] = nxt[j + 1] + 1
            else:
                row[j] = max(nxt[j], row[j + 1])
    # walk
    i = j = 0
    hunks: list[str] = []
    added = removed = 0
    while i < n and j < m:
        if old_lines[i] == new_lines[j]:
            i += 1
            j += 1
        elif dp[i + 1][j] >= dp[i][j + 1]:
            hunks.append(f"-{old_lines[i]}")
            removed += 1
            i += 1
        else:
            hunks.append(f"+{new_lines[j]}")
            added += 1
            j += 1
    for line in old_lines[i:]:
        hunks.append(f"-{line}")
        removed += 1
    for line in new_lines[j:]:
        hunks.append(f"+{line}")
        added += 1
    total = max(n, m, 1)
    return {
        "added": added,
        "removed": removed,
        "change_ratio": round((added + removed) / (total * 2), 6),
        "hunks": hunks[:200],
    }


_DIFF_STRUCT = StructType([
    StructField("added", IntegerType()),
    StructField("removed", IntegerType()),
    StructField("change_ratio", DoubleType()),
    StructField("hunks", ArrayType(StringType())),
])


@F.pandas_udf(_DIFF_STRUCT)
def lcs_diff_udf(old: pd.Series, new: pd.Series) -> pd.DataFrame:
    out = {"added": [], "removed": [], "change_ratio": [], "hunks": []}
    for o, n in zip(old, new):
        d = lcs_diff(o or "", n or "")
        out["added"].append(d["added"])
        out["removed"].append(d["removed"])
        out["change_ratio"].append(d["change_ratio"])
        out["hunks"].append(d["hunks"])
    return pd.DataFrame(out)


def snapshot_changes(snapshots: DataFrame,
                     key_cols: tuple[str, ...] = ("monitor_id", "url"),
                     content_col: str = "content",
                     order_col: str = "captured_at") -> DataFrame:
    """Join each snapshot with its predecessor via lag() and diff the pair
    (SURVEY.md §2.8 M3 mapping). Rows with no change are dropped."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    with_prev = snapshots.withColumn("prev_content", F.lag(content_col).over(w))
    # null-safe direct inequality: sha2(NULL) is NULL, so a hash compare
    # silently dropped transitions to NULL content (and paid two sha256
    # evaluations for a plain equality test)
    changed = with_prev.where(
        F.col("prev_content").isNotNull()
        & ~F.col(content_col).eqNullSafe(F.col("prev_content"))
    )
    return (
        changed.withColumn("diff", lcs_diff_udf(F.col("prev_content"), F.col(content_col)))
        .select(*key_cols, order_col,
                F.col("diff.added").alias("lines_added"),
                F.col("diff.removed").alias("lines_removed"),
                F.col("diff.change_ratio").alias("change_ratio"),
                F.col("diff.hunks").alias("hunks"))
    )


_PRICE_PATH_RE = re.compile(r"price|cost|amount|rate", re.I)
_STOCK_PATH_RE = re.compile(r"stock|inventory|available|quantity", re.I)


def classify_price_change(diffs: list[dict],
                          thresholds: dict | None = None) -> str | None:
    """M5 (diff.ts:224-261 classifyPriceChange, exact): inspect a field-diff
    list (json_field_diff rows) and classify the most significant change —
    price_up / price_down / stock / content / None. Stock paths are
    checked first per diff; price paths need numeric endpoints, a percent
    move of at least ``thresholds['price_change_pct']`` (default 0; from==0
    counts as 100%), and the sign of ``delta`` picks the direction."""
    min_pct = (thresholds or {}).get("price_change_pct")
    if min_pct is None or min_pct != min_pct:   # None or NaN (pandas NULL)
        min_pct = 0
    has_up = has_down = has_stock = False
    for d in diffs:
        path = d.get("path") or ""
        if _STOCK_PATH_RE.search(path):
            has_stock = True
            continue
        frm, to = d.get("old_value"), d.get("new_value")
        numeric = (isinstance(frm, (int, float)) and not isinstance(frm, bool)
                   and isinstance(to, (int, float))
                   and not isinstance(to, bool))
        if _PRICE_PATH_RE.search(path) and numeric:
            pct = abs((to - frm) / frm) * 100 if frm != 0 else 100
            if pct >= min_pct:
                delta = d.get("delta")
                if delta is not None and delta > 0:
                    has_up = True
                elif delta is not None and delta < 0:
                    has_down = True
    if has_up:
        return "price_up"
    if has_down:
        return "price_down"
    if has_stock:
        return "stock"
    if diffs:
        return "content"
    return None


def json_field_diff(old: dict | list | None, new: dict | list | None,
                    path: str = "") -> list[dict]:
    """M4 (diff.ts:170-209): recursive JSON field diff → flat change records
    {path, change ∈ added/removed/modified, old_value, new_value} with
    numeric delta where both sides are numbers."""
    changes: list[dict] = []

    def rec(o, n, p):
        if isinstance(o, dict) and isinstance(n, dict):
            for k in sorted(set(o) | set(n)):
                child = f"{p}.{k}" if p else k
                if k not in o:
                    changes.append({"path": child, "change": "added",
                                    "old_value": None, "new_value": n[k], "delta": None})
                elif k not in n:
                    changes.append({"path": child, "change": "removed",
                                    "old_value": o[k], "new_value": None, "delta": None})
                else:
                    rec(o[k], n[k], child)
        elif isinstance(o, list) and isinstance(n, list):
            for i in range(max(len(o), len(n))):
                child = f"{p}[{i}]"
                if i >= len(o):
                    changes.append({"path": child, "change": "added",
                                    "old_value": None, "new_value": n[i], "delta": None})
                elif i >= len(n):
                    changes.append({"path": child, "change": "removed",
                                    "old_value": o[i], "new_value": None, "delta": None})
                else:
                    rec(o[i], n[i], child)
        elif o != n:
            delta = None
            if isinstance(o, (int, float)) and isinstance(n, (int, float)) \
                    and not isinstance(o, bool) and not isinstance(n, bool):
                delta = n - o
            changes.append({"path": p, "change": "modified",
                            "old_value": o, "new_value": n, "delta": delta})

    # only None coerces to {} — falsy roots (0, '', [], False) are real values
    rec(old if old is not None else {}, new if new is not None else {}, path)
    return changes


# --- M6 (r5): LLM change judge — monitor/judge.ts:1-59 -------------------

JUDGE_SYSTEM_PROMPT = """You are a change-detection judge. Your only job is to decide whether an observed diff on a web page is meaningful relative to the stated monitoring goal.

Ignore mechanical noise such as rotating tokens, session IDs, footer timestamps, ad slots, or cache-buster query strings.

Respond ONLY with a JSON object matching the schema: { meaningful: boolean, confidence: "low"|"medium"|"high", reason: string }."""

JUDGE_FALLBACK = {"meaningful": True, "confidence": "low",
                  "reason": "AI judge unavailable; defaulting to meaningful"}


def build_judge_prompt(goal: str, diff_text: str, url: str) -> str:
    """judge.ts:38-45 — byte-exact user prompt; the diff is truncated to its
    first 3000 chars."""
    return (f'Monitoring goal: "{goal}"\n\nURL: {url}\n\n'
            f"Diff (unified format, first 3000 chars):\n{diff_text[:3000]}\n\n"
            f"Is this change meaningful relative to the goal?")


def judge_change(goal: str, diff_text: str, url: str,
                 model_call=None) -> dict:
    """judge.ts judgeChange: ask a model whether a diff is meaningful
    relative to the monitoring goal. ``model_call(system, prompt) -> dict``
    is the provider seam (reference: generateObject against the verdict zod
    schema). Any failure — no provider configured, call error, or an
    out-of-schema verdict — degrades to the reference's fallback verdict so
    monitoring keeps running without AI (judge.ts:53-57; note the code's
    catch path returns confidence "low", which supersedes the stale
    doc-comment's "medium")."""
    if model_call is None:
        return dict(JUDGE_FALLBACK)
    try:
        verdict = model_call(JUDGE_SYSTEM_PROMPT,
                             build_judge_prompt(goal, diff_text, url))
        if (isinstance(verdict, dict)
                and isinstance(verdict.get("meaningful"), bool)
                and verdict.get("confidence") in ("low", "medium", "high")
                and isinstance(verdict.get("reason"), str)):
            return {"meaningful": verdict["meaningful"],
                    "confidence": verdict["confidence"],
                    "reason": verdict["reason"]}
        return dict(JUDGE_FALLBACK)
    except Exception:
        return dict(JUDGE_FALLBACK)


# --- M7 (r5): snapshot post-processing pipeline ---------------------------
# MonitorPostProcessor.ts:147-309 (_processResult) as a batch operator.

MAX_INLINE_CONTENT_CHARS = 262_144   # config.ts ANYCRAWL_MONITOR_MAX_INLINE_CHARS


def truncate_for_storage_col(content_col,
                             max_chars: int = MAX_INLINE_CONTENT_CHARS):
    """normalize.ts:92-96 truncateForStorage — store at most max_chars,
    with the reference's truncation marker appended."""
    return F.when(F.length(content_col) <= max_chars, content_col) \
        .otherwise(F.concat(F.substring(content_col, 1, max_chars),
                            F.lit("\n…[truncated]")))


_POSTPROC_STRUCT = StructType([
    StructField("status", StringType()),        # after downgrade rules
    StructField("change_type", StringType()),
    StructField("diff_text", StringType()),
    StructField("diff_json", StringType()),     # field diffs, JSON text
    StructField("judgment", StringType()),      # verdict, JSON text
    StructField("emit_change", BooleanType()),
])


def monitor_post_process(results: DataFrame, monitors: DataFrame,
                         prev_snapshots: DataFrame, judge_call=None,
                         max_chars: int = MAX_INLINE_CONTENT_CHARS
                         ) -> DataFrame:
    """The monitor's per-result snapshot state machine
    (MonitorPostProcessor.ts:147-309) over a whole execution batch:

    - content hash over the FULL normalized content, storage/diff over the
      truncated form (:166-173 — so the truncation boundary never reads as
      a change);
    - status: no previous snapshot -> ``new``; same hash -> ``same``; else
      ``changed`` (:199-206);
    - text/mixed modes re-diff truncated-vs-truncated and DOWNGRADE to
      ``same`` when the stored strings are equal (:231-244);
    - json/mixed modes field-diff the extracted payloads; the classifier
      may upgrade change_type; pure-json changes with no field diff are
      hash noise -> downgrade to ``same`` (:246-268);
    - with a goal configured, the AI judge gates the change record when
      only_meaningful is set (:271-278; judge seam = monitor.judge_change,
      degraded verdict when no provider).

    ``results``: (monitor_id, url, content, extracted) — content already
    normalized (normalize_content_col), extracted a JSON text or NULL.
    ``monitors``: (monitor_id, goal, track_mode, only_meaningful,
    price_change_pct). ``prev_snapshots``: (monitor_id, url, content_hash,
    content, extracted) — latest per key.
    Returns one row per result with the final snapshot status plus the
    change-record fields (``emit_change`` marks rows _notify would send;
    diff_json/judgment are JSON text for sink friendliness).
    """
    import json as _json

    cur = (results
           .join(F.broadcast(monitors), "monitor_id", "inner")
           .join(prev_snapshots.select(
               "monitor_id", "url",
               F.col("content_hash").alias("prev_hash"),
               F.col("content").alias("prev_content"),
               F.col("extracted").alias("prev_extracted")),
               ["monitor_id", "url"], "left")
           .withColumn("content_hash", F.sha2(F.col("content"), 256))
           .withColumn("stored", truncate_for_storage_col(F.col("content"),
                                                          max_chars))
           .withColumn("status", F.when(F.col("prev_hash").isNull(),
                                        F.lit("new"))
                       .when(F.col("prev_hash") == F.col("content_hash"),
                             F.lit("same"))
                       .otherwise(F.lit("changed"))))

    out_cols = ["monitor_id", "url", "content_hash", "stored"]

    def post(iterator):
        for pdf in iterator:
            rows = {c: [] for c in ["status", "change_type", "diff_text",
                                    "diff_json", "judgment", "emit_change"]}
            for r in pdf.itertuples(index=False):
                status, ctype = r.status, "content"
                diff_text = diff_json = judgment = None
                emit = False
                if status == "changed":
                    mode = r.track_mode or "text"
                    ok = True
                    if mode in ("text", "mixed"):
                        prev = r.prev_content or ""
                        if prev == r.stored:
                            status, ok = "same", False   # :238-244
                        else:
                            d = lcs_diff(prev, r.stored)
                            diff_text = "\n".join(d["hunks"])
                    if ok and mode in ("json", "mixed"):
                        prev_x = _json.loads(r.prev_extracted) \
                            if r.prev_extracted else {}
                        cur_x = _json.loads(r.extracted) if r.extracted else {}
                        diffs = json_field_diff(prev_x, cur_x)
                        if diffs:
                            diffs_val = diffs
                            diff_json = _json.dumps(diffs, ensure_ascii=False)
                            classified = classify_price_change(
                                diffs, {"price_change_pct":
                                        r.price_change_pct})
                            if classified:
                                ctype = classified
                        if mode == "json" and not diffs:
                            status, ok = "same", False   # :262-268
                    if ok and r.goal and (diff_text or diff_json):
                        for_judge = diff_text if diff_text is not None \
                            else _json.dumps(diffs_val, indent=2)
                        verdict = judge_change(r.goal, for_judge, r.url,
                                               model_call=judge_call)
                        judgment = _json.dumps(verdict, ensure_ascii=False)
                        if r.only_meaningful and not verdict["meaningful"]:
                            ok = False                   # :274-277 (gated,
                            # snapshot stays 'changed' — only _notify skips)
                    emit = ok and status == "changed"
                rows["status"].append(status)
                rows["change_type"].append(ctype if emit else None)
                rows["diff_text"].append(diff_text if emit else None)
                rows["diff_json"].append(diff_json if emit else None)
                rows["judgment"].append(judgment)
                rows["emit_change"].append(emit)
            out = pdf[out_cols].copy()
            for c, v in rows.items():
                out[c] = v
            yield out

    from pyspark.sql.types import StructType as _ST

    schema = _ST([*[cur.select(*out_cols).schema[c] for c in out_cols],
                  *_POSTPROC_STRUCT.fields])
    keep = out_cols + ["status", "prev_content", "prev_extracted",
                       "extracted", "track_mode", "goal", "only_meaningful",
                       "price_change_pct"]
    return cur.select(*keep).mapInPandas(post, schema=schema)


# ---------------------------------------------------------------------------
# Email digest assembly (monitor/EmailNotifier.ts:48-133)
# ---------------------------------------------------------------------------
#
# The SMTP transport is live infrastructure (nodemailer seam); the CONTENT a
# recipient reads — subject, plain-text digest, HTML digest — is pure string
# assembly reproduced byte-for-byte, including the template literals'
# embedded indentation, the 10-field / 500-char text / 2000-char html
# truncations, the +delta sign rendering, and escHtml's four-entity escape
# (no single-quote escaping).


def _esc_html(s) -> str:
    """escHtml (EmailNotifier.ts:127-133): & < > " only."""
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _js_json(v) -> str:
    """JSON.stringify inside a template literal: undefined renders as the
    string 'undefined' (stringify returns undefined, templates coerce)."""
    from anycrawl_spark.template_handler import MISSING, js_number_to_string
    import json as _json

    if v is MISSING:
        return "undefined"
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, (int, float)):
        return js_number_to_string(v)
    if isinstance(v, str):
        return _json.dumps(v, ensure_ascii=False)
    return _json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def _delta_txt(d: dict) -> str:
    from anycrawl_spark.template_handler import MISSING, js_number_to_string

    delta = d.get("delta", MISSING)
    if delta is MISSING:
        return ""
    sign = "+" if delta > 0 else ""
    return f" ({sign}{js_number_to_string(delta)})"


def email_subject(monitor_name: str, n_changes: int) -> str:
    """EmailNotifier.ts:48: singular/plural change count."""
    s = "" if n_changes == 1 else "s"
    return f"[AnyCrawl Monitor] {monitor_name} — {n_changes} change{s} detected"


def build_email_text(monitor: dict, changes: list[dict]) -> str:
    """buildEmailText (EmailNotifier.ts:64-90)."""
    lines = [
        f"Monitor: {monitor['name']} ({monitor['monitorType']})",
        f"Changes detected: {len(changes)}",
        "",
    ]
    for c in changes:
        lines.append(f"URL: {c['url']}")
        lines.append(f"Change type: {c['changeType']}")
        j = c.get("judgment")
        if j:
            meaningful = "meaningful" if j["meaningful"] else "not meaningful"
            lines.append(f"AI assessment: {meaningful} "
                         f"({j['confidence']} confidence) — {j['reason']}")
        diff_json = c.get("diffJson")
        if diff_json:
            lines.append("Field changes:")
            for d in diff_json[:10]:
                from anycrawl_spark.template_handler import MISSING
                lines.append(
                    f"  {d['path']}: {_js_json(d.get('from', MISSING))} → "
                    f"{_js_json(d.get('to', MISSING))}{_delta_txt(d)}")
        if c.get("diffText"):
            lines.append("Diff (first 500 chars):")
            lines.append(c["diffText"][:500])
        lines.append("")
    return "\n".join(lines)


def build_email_html(monitor: dict, changes: list[dict]) -> str:
    """buildEmailHtml (EmailNotifier.ts:92-125) — byte parity including the
    source template literals' embedded newlines and indentation."""
    from anycrawl_spark.template_handler import MISSING, js_number_to_string

    blocks = []
    for c in changes:
        diff_rows = []
        for d in (c.get("diffJson") or [])[:10]:
            delta = d.get("delta", MISSING)
            if delta is not MISSING:
                color = "red" if delta > 0 else "green"
                sign = "+" if delta > 0 else ""
                dhtml = (f' <span style="color:{color}">'
                         f'({sign}{js_number_to_string(delta)})</span>')
            else:
                dhtml = ""
            diff_rows.append(
                f'<tr><td style="font-family:monospace;padding:2px 8px">'
                f'{_esc_html(d["path"])}</td>\n'
                f'                       <td style="padding:2px 8px">'
                f'{_esc_html(_js_json(d.get("from", MISSING)))}</td>\n'
                f'                       <td style="padding:2px 8px">→</td>\n'
                f'                       <td style="padding:2px 8px">'
                f'{_esc_html(_js_json(d.get("to", MISSING)))}{dhtml}</td></tr>')
        rows_html = "\n".join(diff_rows)

        diff_block = (
            '<pre style="background:#f5f5f5;padding:8px;overflow:auto;'
            'max-height:300px;font-size:12px">'
            f'{_esc_html(c["diffText"][:2000])}</pre>'
            if c.get("diffText") else "")

        j = c.get("judgment")
        judgment_block = (
            f'<p><strong>AI assessment:</strong> '
            f'{"✅ Meaningful" if j["meaningful"] else "⚠️ Not meaningful"} '
            f'({_esc_html(j["confidence"])} confidence) — '
            f'{_esc_html(j["reason"])}</p>'
            if j else "")

        table = (
            '<table style="border-collapse:collapse;width:100%"><tr>'
            '<th style="text-align:left;padding:2px 8px">Field</th>'
            f'<th>From</th><th></th><th>To</th></tr>{rows_html}</table>'
            if rows_html else "")

        blocks.append(
            '<div style="border:1px solid #ddd;border-radius:4px;'
            'padding:12px;margin-bottom:16px">\n'
            f'            <h3 style="margin:0 0 8px">{_esc_html(c["url"])}'
            '</h3>\n'
            '            <p><strong>Change type:</strong> '
            f'<code>{_esc_html(c["changeType"])}</code></p>\n'
            f'            {judgment_block}\n'
            f'            {table}\n'
            f'            {diff_block}\n'
            '        </div>')
    rows = "\n".join(blocks)

    return (
        '<!DOCTYPE html><html><body style="font-family:sans-serif;'
        'max-width:800px;margin:auto;padding:24px">\n'
        f'        <h2>🔔 AnyCrawl Monitor — {_esc_html(monitor["name"])}'
        '</h2>\n'
        f'        <p><strong>Type:</strong> '
        f'{_esc_html(monitor["monitorType"])} &nbsp; '
        f'<strong>Changes:</strong> {len(changes)}</p>\n'
        f'        {rows}\n'
        '        <hr><p style="color:#888;font-size:12px">AnyCrawl Monitor '
        '— manage at your dashboard</p>\n'
        '    </body></html>')


def build_task_payload(target: dict, monitor_type: str, track_mode: str,
                       extract_schema, goal, diff_options) -> dict:
    """MonitorController.buildTaskPayload (MonitorController.ts:32-57):
    the scrape payload a monitor's backing scheduled task runs with.

    Quirks pinned: formats by track mode (text -> markdown only, else
    markdown+json); ``diffOptions?.only_main_content ?? true`` (explicit
    false survives); ``...target.options`` spreads AFTER the computed
    fields, so a target's own formats/only_main_content OVERRIDE them;
    json_options appears only for json/mixed modes AND a truthy schema,
    with the goal folded in as user_prompt only when truthy; engine
    defaults via ``target.engine ?? 'auto'``.  ``monitor_type`` is
    accepted for signature parity (the reference threads it through
    unused)."""
    formats = ["markdown"] if track_mode == "text" else ["markdown", "json"]
    omc = (diff_options or {}).get("only_main_content")
    options = {
        "formats": formats,
        "only_main_content": True if omc is None else omc,
        **(target.get("options") or {}),
    }
    # `extractSchema &&` is JS truthiness: an empty {} schema is TRUTHY
    # (all objects are) — only null/undefined/''/0/false fall through
    schema_truthy = not (extract_schema is None or extract_schema is False
                         or extract_schema == "" or
                         (isinstance(extract_schema, (int, float))
                          and extract_schema == 0))
    if track_mode in ("json", "mixed") and schema_truthy:
        options["json_options"] = {
            "schema": extract_schema,
            **({"user_prompt": goal} if goal else {}),
        }
    engine = target.get("engine")
    return {
        "url": target.get("url"),
        # `target.engine ?? "auto"`: only null/undefined fall back — a
        # falsy-but-present '' engine survives
        "engine": "auto" if engine is None else engine,
        "options": options,
    }
