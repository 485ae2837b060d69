"""Reachability guard: every module-level function and class in
``anycrawl_spark/`` has a program caller, or is a listed test-only keep.

Program code is the package itself, ``tools/``, ``perfbench/``,
``bench.py``, ``bench_extra.py``, ``__spark_entry__.py`` and
``tests/simulator.py`` (perfbench imports the simulator). A caller is an
``ast.Name``, ``ast.Attribute`` or import alias carrying the symbol's name
outside the symbol's own definition, so a mention in a comment or
docstring never counts, nor does a read of a parameter or local of an
enclosing function that shares the name. An import alias counts only
because every package import must be read in its module. The registry's ``q_*`` functions are reached
through ``REGISTRY`` and are skipped. No program file dispatches through
``importlib``, ``__import__`` or a string ``getattr``, so the static scan
sees every call.

A symbol only tests reach stays only with one of these reasons:

- ``reference``: a test compares a vectorized, JVM or registry path
  against it (the comparing test is named);
- ``only port``: COVERAGE.md maps it to a SURVEY operator that no registry
  query or CLI path covers (the SURVEY id is named);
- ``floor``: its tests are pinned by the tier-1 floor, so deleting it
  would retire them (the pinned tests are named). This reason is a
  deferral, not a steady state: ``FLOOR_AT_INTRODUCTION`` freezes the set
  it may cover, so floor keeps only shrink as their tests are retired.

A new test-only symbol fails here, and so does a kept one that gains a
program caller while its entry stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "anycrawl_spark"
PROGRAM = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py",
           ROOT / "bench_extra.py", ROOT / "__spark_entry__.py",
           ROOT / "tests" / "simulator.py"]

REF, PORT, FLOOR = "reference", "only port", "floor"

KEEP: dict[str, tuple[str, str]] = {
    # -- references: the program path is tested against them ------------
    "autoengine.analyze_js_requirement": (REF, "tests/test_kernel.py::TestAutoEngine::test_jvm_column_matches_python_kernel"),
    "autoengine.screenshot_ready_fold": (REF, "tests/test_pipeline_ops.py::TestScreenshotReadyHint::test_batch_matches_sequential_fold"),
    "cache.compute_cache_key": (REF, "tests/test_cache_gate.py::TestJvmParity::test_cache_key_cols_match_python"),
    "cache.should_cache": (REF, "tests/test_cache_gate.py::TestJvmParity::test_store_gate_cols_match_python"),
    "cuckoo._contains": (REF, "tests/test_cuckoo.py::TestCuckooProperties::test_membership_after_random_merge_plan"),
    "cuckoo._decode": (REF, "tests/test_seen_core.py::TestHashSliceCore::test_cuckoo_probe_covers_saturated_segments"),
    "cuckoo._fp_i1": (REF, "tests/test_seen_core.py::TestHashSliceCore::test_slices_match_scalar"),
    "kernel.dom._parse_stdlib": (REF, "tests/test_kernel.py::TestDomBackends::test_fuzz_matches_stdlib_reference"),
    "proxy.compute_new_mode": (REF, "tests/test_proxy.py::TestProxyCacheReplay::test_matches_sequential_fold"),
    "proxy.select_proxy": (REF, "tests/test_proxy.py::TestProxySelectOperator::test_matches_sequential_replay"),
    "scheduler.cron_matches_local": (REF, "tests/test_pipeline_ops.py::TestScheduler::test_candidate_expansion_equals_utc_scan"),
    # -- the only port of a SURVEY operator -----------------------------
    "monitor.monitor_post_process": (PORT, "M7"),
    "monitor.normalize_content_col": (PORT, "M1"),
    "politeness.parse_robots_txt": (PORT, "S4"),
    "serp.build_google_url": (PORT, "G1"),
    "udfs.make_inject_ocr_udf": (PORT, "T17"),
    # -- pinned by the tier-1 floor --------------------------------------
    "autoengine.resolve_wait_until": (FLOOR, "tests/test_proxy.py::TestLibsUtils::test_resolve_wait_until"),
    "cache.cache_lookup": (FLOOR, "tests/test_pipeline_ops.py::TestCache::test_lookup_newest_within_max_age"),
    "cache.compute_domain_hash": (FLOOR, "tests/test_cache_gate.py::TestNormalizeCacheUrl::test_domain_hash"),
    "controllers.browser_runtime_for_cache": (FLOOR, "tests/test_controllers.py::TestCacheGates::test_browser_runtime"),
    "controllers.resolve_wait_timeout_ms": (FLOOR, "tests/test_controllers.py::TestScrapeWaitTimeout::test_explicit_timeout_wins_everywhere"),
    "controllers.should_check_cache": (FLOOR, "tests/test_controllers.py::TestCacheGates::test_should_check_cache"),
    "kernel.canonical.unique_key": (FLOOR, "tests/test_kernel.py::TestCanonical::test_unique_key_job_scope"),
    "kernel.llm_extract.get_model_capabilities": (FLOOR, "tests/test_llm_extract.py::TestModelCapabilities::test_no_config_defaults"),
    "kernel.llm_extract.get_model_detail_config": (FLOOR, "tests/test_llm_extract.py::TestModelDetailConfig::test_candidate_order"),
    "kernel.markdown.html_to_markdown": (FLOOR, "tests/test_markdown.py::TestBasicConversion::test_headings"),
    "monitor.build_email_html": (FLOOR, "tests/test_monitor.py::TestEmailDigest::test_html_digest"),
    "monitor.build_email_text": (FLOOR, "tests/test_monitor.py::TestEmailDigest::test_text_digest"),
    "monitor.build_task_payload": (FLOOR, "tests/test_monitor.py::TestBuildTaskPayload::test_text_mode_formats"),
    "monitor.email_subject": (FLOOR, "tests/test_monitor.py::TestEmailDigest::test_subject_plural"),
    "monitor.snapshot_changes": (FLOOR, "tests/test_pipeline_ops.py::TestMonitor::test_snapshot_changes"),
    "operators.multimodal.documents_as_media": (FLOOR, "tests/test_pipeline_ops.py::TestMultimodal::test_documents_adapter"),
    "operators.multimodal.extract_features": (FLOOR, "tests/test_pipeline_ops.py::TestMultimodal::test_feature_extract_resize_framesample"),
    "proxy.normalize_proxy_url": (FLOOR, "tests/test_proxy.py::TestLibsUtils::test_normalize_proxy_url"),
    "proxy.proxy_failure_state": (FLOOR, "tests/test_proxy.py::TestProxyFailureState::test_overwrite_semantics_and_ttl"),
    "schemas.parse_monitor_create": (FLOOR, "tests/test_schemas.py::TestMonitorSchema::test_defaults"),
    "schemas.parse_monitor_update": (FLOOR, "tests/test_schemas.py::TestMonitorSchema::test_update_variant"),
    "schemas.parse_task_create": (FLOOR, "tests/test_schemas.py::TestTaskSchema::test_cron_refine"),
    "schemas.parse_webhook_create": (FLOOR, "tests/test_schemas.py::TestWebhookSchema::test_create_defaults"),
    "schemas.parse_webhook_update": (FLOOR, "tests/test_schemas.py::TestWebhookSchema::test_update_partial"),
    "schemas.resolve_track_mode": (FLOOR, "tests/test_schemas.py::TestMonitorSchema::test_resolve_track_mode"),
    "serp.merge_scrape_results": (FLOOR, "tests/test_operators.py::TestSerp::test_scrape_merge"),
    "serp.resolve_search_engine": (FLOOR, "tests/test_operators.py::TestEngineResolution::test_validity_depends_on_config"),
    "streaming.stateful.streaming_sessionize": (FLOOR, "tests/test_operators.py::TestStreamingSessionize::test_closed_sessions_match_batch"),
    "template.validate_template_code": (FLOOR, "tests/test_template.py::TestCodeValidator::test_dangerous_patterns"),
    "template.validate_template_id": (FLOOR, "tests/test_template.py::TestTemplateId::test_format_rules"),
    "template_handler.deep_merge_options_with_template": (FLOOR, "tests/test_template_handler.py::TestMerge::test_deep_merges_nested_objects"),
    "template_handler.resolve_price": (FLOOR, "tests/test_template_handler.py::TestPipeline::test_resolve_price"),
    "webhooks.job_events_from_summary": (FLOOR, "tests/test_pipeline_ops.py::TestWebhooks::test_job_lifecycle_events"),
    "webhooks.monitor_events": (FLOOR, "tests/test_pipeline_ops.py::TestMonitorWebhookIntegration::test_price_change_event_type"),
    "webhooks.sign_deliveries": (FLOOR, "tests/test_pipeline_ops.py::TestWebhooks::test_signature_known_answer"),
}


# Every symbol a ``floor`` entry may keep. Retiring one removes it here and
# from KEEP, so a retired symbol cannot come back as a floor keep; adding a
# name here defeats the guard.
FLOOR_AT_INTRODUCTION = frozenset({
    "autoengine.resolve_wait_until",
    "cache.cache_lookup",
    "cache.compute_domain_hash",
    "controllers.browser_runtime_for_cache",
    "controllers.resolve_wait_timeout_ms",
    "controllers.should_check_cache",
    "kernel.canonical.unique_key",
    "kernel.llm_extract.get_model_capabilities",
    "kernel.llm_extract.get_model_detail_config",
    "kernel.markdown.html_to_markdown",
    "monitor.build_email_html",
    "monitor.build_email_text",
    "monitor.build_task_payload",
    "monitor.email_subject",
    "monitor.snapshot_changes",
    "operators.multimodal.documents_as_media",
    "operators.multimodal.extract_features",
    "proxy.normalize_proxy_url",
    "proxy.proxy_failure_state",
    "schemas.parse_monitor_create",
    "schemas.parse_monitor_update",
    "schemas.parse_task_create",
    "schemas.parse_webhook_create",
    "schemas.parse_webhook_update",
    "schemas.resolve_track_mode",
    "serp.merge_scrape_results",
    "serp.resolve_search_engine",
    "streaming.stateful.streaming_sessionize",
    "template.validate_template_code",
    "template.validate_template_id",
    "template_handler.deep_merge_options_with_template",
    "template_handler.resolve_price",
    "webhooks.job_events_from_summary",
    "webhooks.monitor_events",
    "webhooks.sign_deliveries",
})


def _files(paths):
    for p in paths:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _locals(fn) -> set[str]:
    """The names a function or lambda binds as a parameter or assigned
    local (``global``/``nonlocal`` names excluded)."""
    a = fn.args
    out = {x.arg for x in [*a.posonlyargs, *a.args, *a.kwonlyargs,
                           a.vararg, a.kwarg] if x}
    declared: set[str] = set()
    stack = list(fn.body) if isinstance(fn.body, list) else [fn.body]
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, (ast.Global, ast.Nonlocal)):
            declared.update(n.names)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(n.name)
            continue                     # a nested scope binds its own
        elif isinstance(n, ast.Lambda):
            continue
        stack.extend(ast.iter_child_nodes(n))
    return out - declared


def _names(node, shadowed: frozenset = frozenset()) -> set[str]:
    """The names ``node`` reads, except a name that a parameter or local of
    an enclosing function binds: that read is not a caller."""
    out = set()
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        # decorators and defaults run in the enclosing scope
        outer = [*getattr(node, "decorator_list", []), *node.args.defaults,
                 *[d for d in node.args.kw_defaults if d]]
        for n in outer:
            out |= _names(n, shadowed)
        inner = shadowed | _locals(node)
        for n in (node.body if isinstance(node.body, list) else [node.body]):
            out |= _names(n, inner)
        return out
    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
        if node.id not in shadowed:
            out.add(node.id)
    elif isinstance(node, ast.Attribute):
        out.add(node.attr)
    elif isinstance(node, ast.alias):
        out.add(node.name.split(".")[-1])
    for n in ast.iter_child_nodes(node):
        out |= _names(n, shadowed)
    return out


def _callers(paths) -> set[str]:
    """Names used anywhere in ``paths``, each top-level definition's own
    body excluded for its own name (recursion is not a caller)."""
    used: set[str] = set()
    for f in _files(paths):
        for top in ast.parse(f.read_text()).body:
            names = _names(top)
            names.discard(getattr(top, "name", None))
            used |= names
    return used


def _definitions():
    for f in _files([PKG]):
        module = ".".join(f.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                if module == "operators.queries" and node.name.startswith("q_"):
                    continue
                yield f"{module}.{node.name}", node.name


def _test_exists(node_id: str) -> bool:
    path, *parts = node_id.split("::")
    scope = ast.parse((ROOT / path).read_text()).body
    for part in parts:
        match = [n for n in scope if getattr(n, "name", None) == part]
        if not match:
            return False
        scope = getattr(match[0], "body", [])
    return True


def test_only_kept_symbols_lack_a_program_caller():
    callers = _callers(PROGRAM)
    test_only = {key for key, name in _definitions() if name not in callers}
    assert test_only - set(KEEP) == set(), "no program caller (delete it, or keep it with a reason)"
    assert set(KEEP) - test_only == set(), "KEEP entries that are gone or now have a program caller"


def test_keep_reasons_name_their_evidence():
    coverage = (ROOT / "COVERAGE.md").read_text()
    for key, (reason, evidence) in KEEP.items():
        if reason == PORT:
            name = key.rsplit(".", 1)[1]
            assert re.search(rf"\b{re.escape(evidence)}\b", coverage), key
            assert name in coverage, f"COVERAGE.md does not name {key}"
        else:
            assert reason in (REF, FLOOR), key
            assert _test_exists(evidence), f"{key}: no test {evidence}"


def test_floor_keeps_only_shrink():
    floor = {key for key, (reason, _) in KEEP.items() if reason == FLOOR}
    assert floor - FLOOR_AT_INTRODUCTION == set(), "a new floor keep: delete the symbol, or keep it as a reference or only port"
    assert FLOOR_AT_INTRODUCTION - floor == set(), "a retired floor keep: drop it from FLOOR_AT_INTRODUCTION too"


def test_every_package_constant_is_referenced():
    """A module-level constant that nothing reads, program or test, is dead."""
    used = _callers([ROOT / "anycrawl_spark", ROOT / "tests", ROOT / "tools",
                     ROOT / "perfbench", ROOT / "bench.py",
                     ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"])
    dead = []
    for f in _files([PKG]):
        for node in ast.parse(f.read_text()).body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            for t in targets:
                if isinstance(t, ast.Name) and t.id not in used:
                    dead.append(f"{f.relative_to(ROOT)}:{t.id}")
    assert dead == []


def _annotation_reads(tree) -> set[str]:
    """Names read inside string annotations (``x: "DataFrame"``)."""
    out = set()
    for n in ast.walk(tree):
        anns = ([n.returns] if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                else [n.annotation] if isinstance(n, (ast.arg, ast.AnnAssign))
                else [])
        for a in anns:
            if isinstance(a, ast.Constant) and isinstance(a.value, str):
                out |= {m.id for m in ast.walk(ast.parse(a.value, mode="eval"))
                        if isinstance(m, ast.Name)}
    return out


def test_package_imports_are_read():
    """Every name a package module imports is read in that module, so an
    unused import cannot pass for a caller above."""
    unused = []
    for f in _files([PKG]):
        tree = ast.parse(f.read_text())
        read = {n.id for n in ast.walk(tree)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        read |= _annotation_reads(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                continue
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                unused += [f"{f.relative_to(ROOT)}:{a.lineno} {a.name}"
                           for a in n.names
                           if (a.asname or a.name.split(".")[0]) not in read]
    assert unused == []
