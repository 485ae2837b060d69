"""F11: failure classification + per-class retry decision
(``EngineConfigurator.ts:584-708``).

The reference maps every fetch error to one of five classes and decides
retry per class in ``options.errorHandler``. Both are pure string predicates
over the error message (plus the error's constructor name for timeout
detection), so they compile to JVM column expressions — no Python per row.

Precedence (mapToFailureReason, EngineConfigurator.ts:599-613):

1. ``cloudflare`` / ``CF_`` / ``ANYCRAWL_PROXY_ACTION_UPGRADE_TO_STEALTH``
   → ``cloudflare_challenge``
2. ``403`` / ``blocked`` → ``blocked``
3. any of the five temporary proxy markers, or ``proxy`` → ``proxy_error``
4. TimeoutError name, or case-insensitive ``timeout`` → ``timeout``
5. otherwise → ``http_error``

Retry decision (errorHandler, EngineConfigurator.ts:616-708):

- proxy upgrade / rotate markers → retry
- ``Received blocked status code: 403`` → retry (session rotation)
- TimeoutError NAME → NO retry (fail fast, noRetry=true). NOTE: unlike the
  classifier, the retry decision checks isTimeoutLikeError only
  (EngineConfigurator.ts:692 — error NAME, not message), so a message
  containing 'timeout' with a proxy marker still retries via the proxy
  branch — bug-for-bug reference parity.
- temporary proxy errors → retry
- everything else → no retry
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TEMPORARY_PROXY_ERRORS = (
    "ERR_PROXY_CONNECTION_FAILED",
    "ERR_TUNNEL_CONNECTION_FAILED",
    "ERR_PROXY_AUTH_FAILED",
    "ERR_NEED_TO_RETRY",
    "ERR_SOCKS_CONNECTION_FAILED",
)

_UPGRADE_MARKERS = (
    "ANYCRAWL_PROXY_ACTION_UPGRADE_TO_STEALTH",
    "ANYCRAWL_PROXY_UPGRADE_TO_STEALTH",
)
_ROTATE_MARKERS = (
    "ANYCRAWL_PROXY_ACTION_ROTATE_PROXY",
    "ANYCRAWL_STEALTH_RETRY_WITH_NEW_PROXY",
)


def _contains_any(col: Column, needles: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for needle in needles:
        cond = cond | col.contains(needle)
    return cond


def failure_reason_col(msg_col: Column, error_name_col: Column | None = None) -> Column:
    """Five-class failure reason from an error message Column
    (mapToFailureReason parity, incl. precedence order)."""
    msg = F.coalesce(msg_col, F.lit(""))
    is_timeout_name = (
        (error_name_col == "TimeoutError") if error_name_col is not None
        else F.lit(False)
    )
    return (
        F.when(_contains_any(msg, ("cloudflare", "CF_",
                                   "ANYCRAWL_PROXY_ACTION_UPGRADE_TO_STEALTH")),
               "cloudflare_challenge")
        .when(_contains_any(msg, ("403", "blocked")), "blocked")
        .when(_contains_any(msg, TEMPORARY_PROXY_ERRORS) | msg.contains("proxy"),
              "proxy_error")
        .when(is_timeout_name | F.lower(msg).contains("timeout"), "timeout")
        .otherwise("http_error")
    )


def should_retry_col(msg_col: Column, error_name_col: Column | None = None) -> Column:
    """errorHandler retry decision as a boolean Column. Note the decision is
    NOT a pure function of the failure class: a plain '403 ...' message is
    classed ``blocked`` but only the exact crawlee status text
    ``Received blocked status code: 403`` retries."""
    msg = F.coalesce(msg_col, F.lit(""))
    is_timeout_name = (
        (error_name_col == "TimeoutError") if error_name_col is not None
        else F.lit(False)
    )
    return (
        F.when(_contains_any(msg, _UPGRADE_MARKERS), True)
        .when(_contains_any(msg, _ROTATE_MARKERS), True)
        .when(msg.contains("Received blocked status code: 403"), True)
        .when(is_timeout_name, False)  # fail fast, before proxy markers
        .when(_contains_any(msg, TEMPORARY_PROXY_ERRORS), True)
        .otherwise(False)
    )

