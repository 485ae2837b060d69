"""LLM structured extraction pipeline (SURVEY.md §2.3 T18 — the reference's
``json`` format): everything around the model call, corpus-replayable.

Reference parity (packages/ai/src/agents/LLMExtract.ts, BaseAgent.ts,
TextChunker.ts, prompts/extract.prompts.ts; wired from
packages/scrape/src/core/DataExtractor.ts:505-545):

- schema normalization — recursive ``default`` removal, array-root wrap
  into ``{items: ...}``, type-less property-map promotion to an object
  schema, ``additionalProperties: false`` enforced on every object node
  (LLMExtract.ts:19-80 removeDefaultProperty/normalizeSchema);
- schema validity gate over the seven JSON-schema types; an invalid schema
  skips the model entirely and returns ``{}`` (LLMExtract.ts:175-190,
  365-385);
- empty input returns the schema's null-shape (buildEmptyDataFromSchema,
  LLMExtract.ts:192-209);
- field prompt — recursive bullet list with ``(type)`` annotations and
  4-space-indented nested object expansion (createFieldPrompt,
  LLMExtract.ts:225-263), assembled into the exact extraction prompt
  (extract.prompts.ts buildExtractionPrompt, EXTRACT_SYSTEM_PROMPT);
- token estimation — the tiktoken-unavailable fallback ``ceil(len/4)``
  (BaseAgent.ts:126-133; tiktoken is not in this container, and the
  estimator is injectable for deployments that have one);
- line-based chunking with token-bounded overlap carried backwards
  (TextChunker.ts splitTextIntoChunks/getOverlapLines — JS-falsy lines
  skipped, chunk cut BEFORE the line that would overflow, overlap walks
  back until ``overlapTokens``);
- defaults — maxTokensInput 4000 minus the system prompt (floor 1000),
  overlap 200, cost rates 2e-7/8e-7 per token (BaseAgent.ts:9-10,148-169;
  LLMExtract.ts getDefaultParams override);
- chunk-result merge — JS-falsy keys overwritten, arrays concatenated and
  deduplicated by stringified identity, objects shallow-merged, primitives
  keep the first non-empty value (mergeResults/deduplicateArray,
  LLMExtract.ts:268-315);
- control flow of ``perform`` — single call under the token budget,
  per-chunk calls above it with failed chunks contributing ``null`` (and
  the single-call path re-raising, LLMExtract.ts:335-545).

The model call itself is the live seam (reference: vercel-ai
``generateObject`` against a configured provider): ``model_call(system,
prompt, schema) -> data``. The seam's OUTPUT is validated here against the
normalized schema (validate_against_schema) — the reference delegates that
to its ``ai`` library, which raises NoObjectGeneratedError on mismatch; we
raise SchemaValidationError with the same per-chunk-null / single-raise
handling. Tests use deterministic fake models.
"""

from __future__ import annotations

import json
import math

EXTRACT_SYSTEM_PROMPT = """You are a data extraction assistant. You MUST strictly follow the provided JSON schema structure. \n
CRITICAL RULES:
1. Only extract and return the exact fields defined in the schema
2. Do not add any extra fields, properties, or nested structures not specified in the schema
3. If a field is not found in the content, set it to null rather than creating new structures
4. Follow the exact property names, types, and structure as defined in the schema
5. Do not nest data under additional wrapper objects unless explicitly defined in the schema

Return only the JSON object that matches the schema exactly."""

BASE_EXTRACTION_PROMPT = (
    "Extract data from the following content and return it in the exact "
    "JSON structure defined by the schema. IMPORTANT: Only include fields "
    "that are defined in the schema. Do not create additional fields or "
    "nested structures.")

VALID_JSON_SCHEMA_TYPES = frozenset(
    ["object", "array", "string", "number", "integer", "boolean", "null"])

DEFAULT_INPUT_COST_PER_TOKEN = 2e-7
DEFAULT_OUTPUT_COST_PER_TOKEN = 8e-7


def count_tokens(text: str) -> int:
    """BaseAgent.countTokens fallback path: ceil(len/4). tiktoken is not in
    this container; pass a real tokenizer to LLMExtract for deployments."""
    return math.ceil(len(text) / 4)


def _js_falsy(v) -> bool:
    return v is None or v is False or v == "" or v == 0


def remove_default_property(obj):
    """Recursive ``default`` stripper (LLMExtract.ts removeDefaultProperty)."""
    if isinstance(obj, list):
        return [remove_default_property(x) for x in obj]
    if isinstance(obj, dict):
        return {k: remove_default_property(v)
                for k, v in obj.items() if k != "default"}
    return obj


def _enforce_additional_false(node):
    if isinstance(node, list):
        return [_enforce_additional_false(x) for x in node]
    if not isinstance(node, dict):
        return node
    out = dict(node)
    if out.get("type") == "object":
        if "additionalProperties" not in out:
            out["additionalProperties"] = False
        if isinstance(out.get("properties"), dict):
            out["properties"] = {k: _enforce_additional_false(v)
                                 for k, v in out["properties"].items()}
    elif out.get("type") == "array" and out.get("items"):
        out["items"] = _enforce_additional_false(out["items"])
    return out


def normalize_schema(schema):
    """LLMExtract.ts normalizeSchema: defaults stripped, array root wrapped
    in a required ``items`` object, type-less property maps promoted to
    object schemas, additionalProperties:false everywhere."""
    rd = remove_default_property(schema)
    if isinstance(rd, dict) and rd.get("type") == "array":
        base = {"type": "object", "properties": {"items": rd},
                "required": ["items"], "additionalProperties": False}
    elif isinstance(rd, dict) and "type" not in rd:
        # includes {}: JS `removeDefaults && typeof === 'object' && !.type`
        # is TRUE for an empty object ({} is truthy in JS), promoting it to
        # a valid empty object schema — the model IS called for schema={}
        base = {"type": "object",
                "properties": {k: normalize_schema(v) for k, v in rd.items()},
                "required": list(rd.keys()),
                "additionalProperties": False}
    else:
        base = rd
    return _enforce_additional_false(base)


def is_valid_normalized_schema(schema) -> bool:
    if not isinstance(schema, dict):
        return False
    t = schema.get("type")
    if isinstance(t, str):
        return t in VALID_JSON_SCHEMA_TYPES
    if isinstance(t, list):
        return all(isinstance(x, str) and x in VALID_JSON_SCHEMA_TYPES
                   for x in t)
    return False


def build_empty_data_from_schema(schema):
    """Null-shape for empty input (LLMExtract.ts buildEmptyDataFromSchema)."""
    if not isinstance(schema, dict):
        return None
    t = schema.get("type")
    has_object = t == "object" or (isinstance(t, list) and "object" in t)
    if has_object and isinstance(schema.get("properties"), dict):
        return {k: build_empty_data_from_schema(v)
                for k, v in schema["properties"].items()}
    return None


def create_field_prompt(schema, indent: str = "") -> str:
    """Recursive field bullet list (LLMExtract.ts createFieldPrompt)."""
    if not isinstance(schema, dict) or not isinstance(schema.get("properties"), dict):
        return ""
    props = schema["properties"]
    if not props:
        return ""
    lines = []
    for field, prop in props.items():
        prop = prop if isinstance(prop, dict) else {}
        ftype = prop.get("type") or "any"
        desc = prop.get("description") or ""
        if ftype == "array":
            items = prop.get("items")
            item_type = (items.get("type") if isinstance(items, dict)
                         and "type" in items else None) or "any"
            type_desc = f"(array of {item_type}s)"
            if isinstance(items, dict) and items.get("type") == "object":
                lines.append(f"{indent}- {field} {type_desc}: {desc}\n"
                             f"{create_field_prompt(items, indent + '    ')}")
                continue
        elif ftype == "object":
            lines.append(f"{indent}- {field} (object): {desc}\n"
                         f"{create_field_prompt(prop, indent + '    ')}")
            continue
        else:
            type_desc = f"({ftype})"
        lines.append(f"{indent}- {field} {type_desc}: {desc}")
    return "\n".join(lines)


def build_extraction_prompt(content: str, prompt: str | None = None,
                            field_prompt: str | None = None) -> str:
    """extract.prompts.ts buildExtractionPrompt — byte-exact assembly."""
    if prompt:
        return (f"{BASE_EXTRACTION_PROMPT} User request: {prompt}."
                f"{field_prompt or ''}\n\nContent:\n{content}")
    return f"{BASE_EXTRACTION_PROMPT}{field_prompt or ''}\n\nContent:\n{content}"


def split_text_into_chunks(text: str, max_tokens: int, overlap_tokens: int,
                           counter=count_tokens) -> list[dict]:
    """TextChunker.splitTextIntoChunks: line-based, JS-falsy lines skipped,
    cut before overflow, backward token-bounded overlap."""
    lines = text.split("\n")
    chunks: list[dict] = []
    current = ""
    current_tokens = 0
    start_index = 0
    for i, line in enumerate(lines):
        if not line:
            continue
        line_tokens = counter(line + "\n")
        if current_tokens + line_tokens > max_tokens and len(current) > 0:
            chunks.append({"chunk": current.strip(), "start_index": start_index,
                           "end_index": i - 1, "tokens": current_tokens})
            overlap_lines = _overlap_lines(lines, i, overlap_tokens, counter)
            current = "\n".join(overlap_lines)
            current_tokens = counter(current)
            start_index = max(0, i - len(overlap_lines) + 1)
        current += line + "\n"
        current_tokens += line_tokens
    if current.strip():
        chunks.append({"chunk": current.strip(), "start_index": start_index,
                       "end_index": len(lines) - 1, "tokens": current_tokens})
    return chunks


def _overlap_lines(lines, current_index, overlap_tokens, counter):
    out: list[str] = []
    tokens = 0
    for i in range(current_index - 1, -1, -1):
        line = lines[i]
        if not line:
            continue
        line_tokens = counter(line)
        if tokens + line_tokens > overlap_tokens:
            break
        out.insert(0, line)
        tokens += line_tokens
    return out


def _stringify(v) -> str:
    # JSON.stringify-equivalent identity key (insertion-ordered keys both
    # sides; compact separators)
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False,
                      default=str)


def deduplicate_array(arr: list) -> list:
    """JS-Set identity for primitives: booleans are distinct from numbers
    (true !== 1), while 1 and 1.0 are the same JS number; objects/arrays
    dedup by stringified identity (LLMExtract.ts deduplicateArray)."""
    seen = set()
    out = []
    for item in arr:
        if isinstance(item, (dict, list)):
            key = ("obj", _stringify(item))
        elif isinstance(item, bool):
            key = ("bool", item)
        elif isinstance(item, (int, float)):
            key = ("num", float(item))
        else:
            key = ("other", item)
        if key in seen:
            continue
        seen.add(key)
        out.append(item)
    return out


def merge_results(results: list) -> dict | None:
    """LLMExtract.ts mergeResults: JS-falsy slots overwritten, arrays
    concat+dedup, objects shallow-merged, primitives keep first non-empty."""
    if not results:
        return None
    if len(results) == 1:
        return results[0]
    merged: dict = {}
    for result in results:
        if not result:
            continue
        for key, value in result.items():
            if value is None:
                continue
            if _js_falsy(merged.get(key)):
                merged[key] = value
            elif isinstance(merged[key], list) and isinstance(value, list):
                merged[key] = deduplicate_array([*merged[key], *value])
            elif isinstance(merged[key], dict) and isinstance(value, dict):
                merged[key] = {**merged[key], **value}
            # else: keep the existing non-empty primitive (the reference's
            # final branch re-tests null/'' which the falsy gate already
            # consumed — effectively first-non-empty-wins)
    return merged


class SchemaValidationError(ValueError):
    """Model output does not match the normalized schema (the reference's
    NoObjectGeneratedError from the ai library's schema check)."""


def validate_against_schema(value, schema, path: str = "$") -> None:
    """Subset JSON-schema validator covering what normalize_schema emits:
    type (string or union list), properties/required/additionalProperties,
    items. Raises SchemaValidationError on the first mismatch."""
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    types = [t] if isinstance(t, str) else (t or [])

    def matches(one: str) -> bool:
        return {
            "object": lambda v: isinstance(v, dict),
            "array": lambda v: isinstance(v, list),
            "string": lambda v: isinstance(v, str),
            "number": lambda v: isinstance(v, (int, float))
            and not isinstance(v, bool),
            "integer": lambda v: isinstance(v, int)
            and not isinstance(v, bool),
            "boolean": lambda v: isinstance(v, bool),
            "null": lambda v: v is None,
        }.get(one, lambda v: True)(value)

    if types and not any(matches(one) for one in types):
        # null is always an acceptable "field not found" value per the
        # system prompt's rule 3 (the reference's providers return null for
        # absent fields and the ai lib accepts it on non-required paths;
        # required fields are checked structurally below)
        if value is not None:
            raise SchemaValidationError(
                f"{path}: expected {types}, got {type(value).__name__}")
        return
    if isinstance(value, dict) and "object" in types:
        props = schema.get("properties") or {}
        for req in schema.get("required") or []:
            if req not in value:
                raise SchemaValidationError(f"{path}: missing required "
                                            f"field {req!r}")
        if schema.get("additionalProperties") is False:
            extra = [k for k in value if k not in props]
            if extra:
                raise SchemaValidationError(
                    f"{path}: additional properties {extra!r}")
        for k, v in value.items():
            if k in props:
                validate_against_schema(v, props[k], f"{path}.{k}")
    elif isinstance(value, list) and "array" in types:
        items = schema.get("items")
        if isinstance(items, dict):
            for ix, v in enumerate(value):
                validate_against_schema(v, items, f"{path}[{ix}]")


SUMMARY_SYSTEM_PROMPT = """You are a content summarization assistant. Your task is to create clear, concise, and accurate summaries of web page content.

CRITICAL RULES:
1. Capture the main ideas and key points of the content
2. Maintain factual accuracy - do not add information not present in the original
3. Use clear and concise language
4. Preserve important details while removing redundancy
5. Structure the summary logically
6. Keep the summary proportional to the content length"""

SUMMARY_USER_PROMPT = """Please summarize the following web page content. Focus on the main ideas, key points, and important details. Provide a clear and concise summary.

Content:
{content}"""


def build_summary_prompt(content: str) -> str:
    """summary.prompts.ts buildSummaryPrompt — template substitution.
    Mirrors JS String.replace: only the first ``{content}`` occurrence."""
    return SUMMARY_USER_PROMPT.replace("{content}", content, 1)


def build_summary_merge_prompt(summaries: list[str]) -> str:
    """LLMSummary.ts mergeSummaries prompt — byte-exact assembly."""
    parts = "\n\n".join(f"--- Part {i + 1} ---\n{s}"
                        for i, s in enumerate(summaries))
    return (
        "You are given multiple summaries of different parts of the same "
        "document. Please combine them into a single coherent summary that "
        "captures all the key points without redundancy.\n\n"
        f"Summaries to merge:\n{parts}\n\nPlease provide a unified summary:")


class _AgentBase:
    """Shared BaseAgent surface: default params (system-prompt-adjusted
    input budget, BaseAgent.ts:148-169 + the agents' getDefaultParams
    override) and token-rate cost math (BaseAgent.ts:136-145)."""

    def __init__(self, model_call, system_prompt: str,
                 model_config: dict | None = None, counter=count_tokens):
        self.model_call = model_call
        self.system_prompt = system_prompt
        self.model_config = model_config
        self.counter = counter

    def _default_params(self) -> dict:
        if not self.model_config:
            base = {"max_tokens_input": 4000, "max_tokens_output": 2000,
                    "chunk_overlap": 200}
        else:
            c = self.model_config
            max_in = c.get("max_input_tokens") or c.get("max_tokens") or 4000
            max_out = c.get("max_output_tokens") or c.get("max_tokens") or 2000
            base = {"max_tokens_input": int(max_in * 0.8),
                    "max_tokens_output": max_out,
                    "chunk_overlap": min(200, int(max_in * 0.1))}
        base["max_tokens_input"] = max(
            1000, base["max_tokens_input"] - self.counter(self.system_prompt))
        return base

    def _cost(self, input_tokens: int, output_tokens: int) -> float:
        c = self.model_config or {}
        in_rate = c.get("input_cost_per_token", DEFAULT_INPUT_COST_PER_TOKEN)
        out_rate = c.get("output_cost_per_token", DEFAULT_OUTPUT_COST_PER_TOKEN)
        return in_rate * input_tokens + out_rate * output_tokens


class LLMSummary(_AgentBase):
    """The reference LLMSummary agent (LLMSummary.ts) with the provider
    call injected: ``model_call(system_prompt, full_prompt) -> str``.

    Parity notes: failed chunks contribute '' and are filtered before the
    merge; a failed merge call falls back to '\\n\\n'.join; the merge
    call's own usage is NOT added to the token/cost totals (the reference
    records the merge step with zero cost/tokens, LLMSummary.ts:271-277).
    """

    def __init__(self, model_call, system_prompt: str = SUMMARY_SYSTEM_PROMPT,
                 model_config: dict | None = None, counter=count_tokens):
        super().__init__(model_call, system_prompt, model_config, counter)

    def _call(self, full_prompt: str, system_prompt: str):
        text = self.model_call(system_prompt, full_prompt) or ""
        input_tokens = self.counter(full_prompt + system_prompt)
        output_tokens = self.counter(text)
        return text, input_tokens, output_tokens

    def _merge(self, summaries: list[str], system_prompt: str) -> str:
        if not summaries:
            return ""
        if len(summaries) == 1:
            return summaries[0]
        try:
            merged = self.model_call(system_prompt,
                                     build_summary_merge_prompt(summaries))
            return merged or "\n\n".join(summaries)
        except Exception:
            return "\n\n".join(summaries)

    def perform(self, text, system_prompt: str | None = None,
                max_tokens_input: int | None = None,
                chunk_overlap: int | None = None) -> dict:
        defaults = self._default_params()
        max_in = max_tokens_input if max_tokens_input is not None \
            else defaults["max_tokens_input"]
        overlap = chunk_overlap if chunk_overlap is not None \
            else defaults["chunk_overlap"]
        sys_prompt = system_prompt or self.system_prompt or ""

        input_text = "\n".join(text) if isinstance(text, list) else text
        input_tokens = self.counter(input_text)

        if input_tokens <= max_in:
            # single-call errors re-raise (LLMSummary.ts:212-217)
            summary, tin, tout = self._call(build_summary_prompt(input_text),
                                            sys_prompt)
            return {"summary": summary,
                    "tokens": {"input": tin, "output": tout,
                               "total": tin + tout},
                    "chunks": 1, "cost": self._cost(tin, tout)}

        chunks = split_text_into_chunks(input_text, max_in, overlap,
                                        self.counter)
        parts: list[str] = []
        total_in = total_out = 0
        cost = 0.0
        for info in chunks:
            try:
                summary, tin, tout = self._call(
                    build_summary_prompt(info["chunk"]), sys_prompt)
                parts.append(summary)
                total_in += tin
                total_out += tout
                cost += self._cost(tin, tout)
            except Exception:
                parts.append("")          # LLMSummary.ts:262-265
        merged = self._merge([s for s in parts if s], sys_prompt)
        return {"summary": merged,
                "tokens": {"input": total_in, "output": total_out,
                           "total": total_in + total_out},
                "chunks": len(chunks), "cost": cost}


class LLMExtract(_AgentBase):
    """The reference LLMExtract agent with the provider call injected.

    ``model_call(system_prompt, full_prompt, normalized_schema) -> data``
    is the live seam; its output is schema-validated here. ``model_config``
    mirrors the reference's models-config entry shape
    ({max_input_tokens, max_output_tokens, input_cost_per_token,
    output_cost_per_token}).
    """

    def __init__(self, model_call, system_prompt: str = EXTRACT_SYSTEM_PROMPT,
                 model_config: dict | None = None, counter=count_tokens):
        super().__init__(model_call, system_prompt, model_config, counter)

    def _call(self, full_prompt: str, schema, system_prompt: str):
        data = self.model_call(system_prompt, full_prompt, schema)
        validate_against_schema(data, schema)
        # local token estimation (the provider-usage fast path is a live
        # concern; BaseAgent falls back to exactly this)
        input_tokens = self.counter(full_prompt + system_prompt)
        output_tokens = self.counter(_stringify(data if data is not None else {}))
        return data, input_tokens, output_tokens

    def perform(self, text, schema, prompt: str | None = None,
                system_prompt: str | None = None,
                max_tokens_input: int | None = None,
                chunk_overlap: int | None = None) -> dict:
        defaults = self._default_params()
        max_in = max_tokens_input if max_tokens_input is not None \
            else defaults["max_tokens_input"]
        overlap = chunk_overlap if chunk_overlap is not None \
            else defaults["chunk_overlap"]
        sys_prompt = system_prompt or self.system_prompt or ""

        normalized = normalize_schema(schema)
        input_text = "\n".join(text) if isinstance(text, list) else text
        input_tokens = self.counter(input_text)

        if not is_valid_normalized_schema(normalized):
            return {"data": {}, "tokens": {"input": input_tokens, "output": 0,
                                           "total": input_tokens},
                    "chunks": 1, "cost": 0.0}
        if not input_text.strip():
            return {"data": build_empty_data_from_schema(normalized),
                    "tokens": {"input": input_tokens, "output": 0,
                               "total": input_tokens},
                    "chunks": 1, "cost": 0.0}

        field_prompt = create_field_prompt(normalized)
        if input_tokens <= max_in:
            full_prompt = build_extraction_prompt(input_text, prompt,
                                                  field_prompt)
            # single-call errors re-raise (LLMExtract.ts:453-470)
            data, tin, tout = self._call(full_prompt, normalized, sys_prompt)
            return {"data": data,
                    "tokens": {"input": tin, "output": tout,
                               "total": tin + tout},
                    "chunks": 1, "cost": self._cost(tin, tout)}

        chunks = split_text_into_chunks(input_text, max_in, overlap,
                                        self.counter)
        results = []
        total_in = total_out = 0
        cost = 0.0
        for info in chunks:
            full_prompt = build_extraction_prompt(info["chunk"], prompt,
                                                  field_prompt)
            try:
                data, tin, tout = self._call(full_prompt, normalized,
                                             sys_prompt)
                results.append(data)
                total_in += tin
                total_out += tout
                cost += self._cost(tin, tout)
            except Exception:
                # failed chunks contribute null (LLMExtract.ts:516-519)
                results.append(None)
        return {"data": merge_results(results),
                "tokens": {"input": total_in, "output": total_out,
                           "total": total_in + total_out},
                "chunks": len(chunks), "cost": cost}


def get_model_detail_config(model_id: str, models_config: dict):
    """ai/utils/helper.ts:8-25 (getModelDetailConfig): resolve a model id
    against a pricing/capability table by candidate order — the full id,
    the id after the first provider segment, the last two segments, then
    the bare last segment; first hit wins.  The table itself is
    deployment data (the reference ships a generated models-config.ts);
    callers inject their own dict."""
    segments = model_id.split("/")
    candidates = [model_id]
    if "/" in model_id:
        candidates.append(model_id[model_id.index("/") + 1:])
        candidates.append("/".join(segments[-2:]))
        candidates.append(segments[-1])
    for candidate in candidates:
        if candidate and candidate in models_config:
            return models_config[candidate]
    return None


def get_model_capabilities(model_config: dict | None) -> dict:
    """BaseAgent.getModelCapabilities (ai/agents/BaseAgent.ts:173-195):
    the capability envelope an agent exposes for a resolved model config.
    JS ``||`` chains throughout — a 0 max_tokens or 0 cost falls through
    to the next leg / default exactly like absent."""
    if not model_config:
        return {"maxInputTokens": 4000, "maxOutputTokens": 2000,
                "supportsVision": False, "supportsFunctionCalling": False,
                "supportsStreaming": False, "inputCostPerToken": 0,
                "outputCostPerToken": 0}
    c = model_config
    return {
        "maxInputTokens": c.get("max_input_tokens")
        or c.get("max_tokens") or 4000,
        "maxOutputTokens": c.get("max_output_tokens")
        or c.get("max_tokens") or 2000,
        "supportsVision": c.get("supports_vision") or False,
        "supportsFunctionCalling": c.get("supports_function_calling")
        or False,
        "supportsStreaming": c.get("supports_native_streaming") or False,
        "inputCostPerToken": c.get("input_cost_per_token") or 0,
        "outputCostPerToken": c.get("output_cost_per_token") or 0,
    }
