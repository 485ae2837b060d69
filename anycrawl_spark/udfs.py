"""Arrow-batched extraction UDFs (SURVEY.md §2.3 — the T1-T20 chain on Spark).

One vectorized pandas UDF maps ``(url, html)`` batches to the full page
document struct. This is the only Python in the crawl hot path (input_hint:
"vectorized pandas/Arrow UDFs, no per-row Python" — per-row work happens
inside the Arrow batch, which is the pandas-UDF execution model; everything
around it is JVM-side DataFrame code).

Design note for 100 TB scale: the UDF is a pure function of (url, html) with
no broadcast state, so it parallelizes embarrassingly; html bytes never hit
the driver, and column pruning upstream ensures html is only read for rows
that survived the seen/robots/budget filters (SURVEY.md §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DOC_STRUCT = StructType([
    StructField("title", StringType()),
    StructField("user_data", StringType()),
    StructField("metadata", ArrayType(StructType([
        StructField("name", StringType()),
        StructField("content", StringType()),
        StructField("property", StringType()),
    ]))),
    StructField("html", StringType()),
    StructField("markdown", StringType()),
    StructField("text", StringType()),
    StructField("links", ArrayType(StringType())),
])


def _tune_worker_gc() -> None:
    """Raise the cyclic-GC gen0 threshold in the executor Python worker.

    DOM nodes carry parent back-pointers (kernel/dom.py Node.parent), so
    every parsed page is a pile of reference cycles; CPython's default gen0
    threshold of 700 fires a collection ~hundreds of times per page build.
    gen0=10000 cuts that ~14x for a measured ~5% kernel-CPU saving
    (tools/kernel_bench.py interleaved A/B: 1.712 -> 1.629 ms/page) at
    +1 MiB worker RSS. Called from inside the pandas UDFs so only executor
    workers are retuned — never the driver or test processes.
    """
    import gc

    if gc.get_threshold()[0] < 10_000:
        gc.set_threshold(10_000, 20, 20)


def make_extract_udf(formats: tuple[str, ...] = ("markdown", "text", "links", "html"),
                     include_tags: list[str] | None = None,
                     exclude_tags: list[str] | None = None,
                     only_main_content: bool = True,
                     user_transform=None):
    """Build the extraction pandas UDF with job options closed over
    (options are per-job scalars — broadcast by closure, never per-row).

    ``user_transform`` is the template-system hook (SURVEY.md §2.9 — the
    reference runs sandboxed user JS per page, Base.ts:1012-1176): a
    picklable callable ``(url, doc_dict) -> str | None`` whose return value
    lands in the ``user_data`` struct field."""
    formats = tuple(formats)
    include_tags = list(include_tags or [])
    exclude_tags = list(exclude_tags or [])

    @F.pandas_udf(DOC_STRUCT)
    def extract(url: pd.Series, html: pd.Series) -> pd.DataFrame:
        from anycrawl_spark.kernel.extract import extract_page

        import sys

        # the clean/serialize/render walks recurse ~3 frames per DOM level;
        # the parser caps trees at dom.MAX_TREE_DEPTH (512), so 20k frames
        # is ample headroom over CPython's default 1000
        if sys.getrecursionlimit() < 20_000:
            sys.setrecursionlimit(20_000)
        _tune_worker_gc()

        empty_doc = {"title": "", "metadata": [], "html": None,
                     "markdown": None, "text": None, "links": None}
        out = {"title": [], "user_data": [], "metadata": [], "html": [],
               "markdown": [], "text": [], "links": []}
        for u, h in zip(url, html):
            raw = h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else (h or "")
            try:
                doc = extract_page(
                    u, raw,
                    formats=formats,
                    include_tags=include_tags,
                    exclude_tags=exclude_tags,
                    only_main_content=only_main_content,
                )
            except Exception:
                # one adversarial page must not kill the Spark task (and
                # with it the whole crawl after retries) — the reference
                # fails the single page, not the job
                doc = empty_doc
            out["title"].append(doc["title"])
            out["user_data"].append(
                user_transform(u, doc) if user_transform is not None else None)
            out["metadata"].append([
                (m["name"], m["content"], m["property"]) for m in doc["metadata"]
            ])
            out["html"].append(doc["html"])
            out["markdown"].append(doc["markdown"])
            out["text"].append(doc["text"])
            out["links"].append(doc["links"])
        return pd.DataFrame(out)

    return extract


@F.pandas_udf(StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    from anycrawl_spark.kernel.text import html_to_text

    _tune_worker_gc()
    return html.map(
        lambda h: html_to_text(
            h.decode("utf-8", errors="replace") if isinstance(h, (bytes, bytearray)) else (h or "")
        )
    )


@F.pandas_udf(ArrayType(StringType()))
def markdown_image_urls_udf(markdown: pd.Series) -> pd.Series:
    """Distinct image urls per markdown doc, in first-occurrence order —
    the fan-out set an OCR model batch would be called with
    (reference: MarkdownOCR.ts collectMarkdownImageOccurrences)."""
    from anycrawl_spark.kernel.ocr import image_urls

    return markdown.map(lambda md: image_urls(md or ""))


JSON_EXTRACT_STRUCT = StructType([
    StructField("data", StringType()),        # extracted object, JSON text
    StructField("chunks", IntegerType()),
    StructField("input_tokens", IntegerType()),
    StructField("output_tokens", IntegerType()),
    StructField("cost", DoubleType()),
])


def make_json_extract_udf(json_options: dict, model_call=None,
                          extract_source: str = "markdown",
                          model_config: dict | None = None):
    """T18 ``json`` format (DataExtractor.ts:505-545): run the LLMExtract
    pipeline over each page's markdown (default) or html — the reference's
    ``extract_source`` option. ``json_options`` mirrors jsonOptionsSchema
    (BaseSchema.ts:21-27): {schema, user_prompt, schema_name,
    schema_description}. ``model_call`` is the live provider seam
    (kernel/llm_extract.py LLMExtract); the default echoes the schema's
    null-shape — the pipeline (normalization, prompts, chunking, merge,
    validation, token/cost accounting) runs for real either way.

    Takes (markdown, html) columns so one UDF serves both sources; only
    the selected source is read per row.
    """
    schema = (json_options or {}).get("schema")
    user_prompt = (json_options or {}).get("user_prompt")

    @F.pandas_udf(JSON_EXTRACT_STRUCT)
    def json_extract(markdown: pd.Series, html: pd.Series) -> pd.DataFrame:
        import json as _json

        from anycrawl_spark.kernel.llm_extract import (
            LLMExtract,
            build_empty_data_from_schema,
        )

        _tune_worker_gc()
        call = model_call
        if call is None:
            def call(system, prompt, nschema):   # noqa: ARG001
                return build_empty_data_from_schema(nschema)

        agent = LLMExtract(call, model_config=model_config)
        out = {"data": [], "chunks": [], "input_tokens": [],
               "output_tokens": [], "cost": []}
        source = html if extract_source == "html" else markdown
        for content in source:
            if isinstance(content, (bytes, bytearray)):
                content = content.decode("utf-8", errors="replace")
            try:
                r = agent.perform(content or "", schema, prompt=user_prompt)
                data = _json.dumps(r["data"], ensure_ascii=False,
                                   separators=(",", ":"))
                out["data"].append(data)
                out["chunks"].append(r["chunks"])
                out["input_tokens"].append(r["tokens"]["input"])
                out["output_tokens"].append(r["tokens"]["output"])
                out["cost"].append(float(r["cost"]))
            except Exception:
                # one failed page fails that page, not the Spark task
                out["data"].append(None)
                out["chunks"].append(0)
                out["input_tokens"].append(0)
                out["output_tokens"].append(0)
                out["cost"].append(0.0)
        return pd.DataFrame(out)

    return json_extract


SUMMARY_STRUCT = StructType([
    StructField("summary", StringType()),
    StructField("chunks", IntegerType()),
    StructField("input_tokens", IntegerType()),
    StructField("output_tokens", IntegerType()),
    StructField("cost", DoubleType()),
])


def make_summary_udf(model_call=None, extract_source: str = "markdown",
                     model_config: dict | None = None):
    """T18 ``summary`` format (DataExtractor.ts:547-573): the LLMSummary
    pipeline (kernel/llm_extract.py LLMSummary — summary prompt, chunking,
    summarize-then-merge) over markdown (default) or html.
    ``model_call(system, prompt) -> str`` is the provider seam; the default
    returns '' (the pipeline still runs: prompts, chunk routing, token and
    cost accounting)."""

    @F.pandas_udf(SUMMARY_STRUCT)
    def summarize(markdown: pd.Series, html: pd.Series) -> pd.DataFrame:
        from anycrawl_spark.kernel.llm_extract import LLMSummary

        _tune_worker_gc()
        call = model_call if model_call is not None \
            else (lambda system, prompt: "")
        agent = LLMSummary(call, model_config=model_config)
        out = {"summary": [], "chunks": [], "input_tokens": [],
               "output_tokens": [], "cost": []}
        source = html if extract_source == "html" else markdown
        for content in source:
            if isinstance(content, (bytes, bytearray)):
                content = content.decode("utf-8", errors="replace")
            try:
                r = agent.perform(content or "")
                out["summary"].append(r["summary"])
                out["chunks"].append(r["chunks"])
                out["input_tokens"].append(r["tokens"]["input"])
                out["output_tokens"].append(r["tokens"]["output"])
                out["cost"].append(float(r["cost"]))
            except Exception:
                out["summary"].append(None)
                out["chunks"].append(0)
                out["input_tokens"].append(0)
                out["output_tokens"].append(0)
                out["cost"].append(0.0)
        return pd.DataFrame(out)

    return summarize


def make_inject_ocr_udf(ocr_lookup=None):
    """OCR block injection UDF factory. ``ocr_lookup(url) -> text`` is the
    external-model seam (reference: MarkdownOCR.ts injectOCRBlocksAfterImages
    — the VL-model call itself is out of corpus-replay scope); default is
    empty text, which still injects the (empty) OCR block per occurrence,
    matching the reference's behavior for unavailable OCR."""

    @F.pandas_udf(StringType())
    def inject_ocr(markdown: pd.Series) -> pd.Series:
        from anycrawl_spark.kernel.ocr import image_urls, inject_ocr_blocks

        def one(md):
            md = md or ""
            mapping = ({u: ocr_lookup(u) for u in image_urls(md)}
                       if ocr_lookup is not None else {})
            return inject_ocr_blocks(md, mapping)

        return markdown.map(one)

    return inject_ocr
