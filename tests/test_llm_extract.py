"""T18 LLM structured-extraction pipeline (kernel/llm_extract.py) vs the
reference's LLMExtract.ts/TextChunker.ts/extract.prompts.ts semantics —
schema normalization, prompt assembly, chunking, merge, validation, token
and cost accounting. The model call is a deterministic fake throughout."""

import json

import pytest

from anycrawl_spark.kernel.llm_extract import (
    BASE_EXTRACTION_PROMPT,
    EXTRACT_SYSTEM_PROMPT,
    LLMExtract,
    SchemaValidationError,
    build_empty_data_from_schema,
    build_extraction_prompt,
    count_tokens,
    create_field_prompt,
    deduplicate_array,
    is_valid_normalized_schema,
    merge_results,
    normalize_schema,
    split_text_into_chunks,
    validate_against_schema,
)


class TestNormalizeSchema:
    def test_defaults_removed_recursively(self):
        s = {"type": "object", "default": {},
             "properties": {"a": {"type": "string", "default": "x"}}}
        n = normalize_schema(s)
        assert "default" not in n
        assert "default" not in n["properties"]["a"]

    def test_array_root_wrapped(self):
        n = normalize_schema({"type": "array", "items": {"type": "string"}})
        assert n["type"] == "object"
        assert n["required"] == ["items"]
        assert n["properties"]["items"]["type"] == "array"
        assert n["additionalProperties"] is False

    def test_typeless_map_promoted(self):
        n = normalize_schema({"name": {"type": "string"},
                              "age": {"type": "integer"}})
        assert n["type"] == "object"
        assert n["required"] == ["name", "age"]
        assert n["additionalProperties"] is False

    def test_additional_properties_enforced_nested(self):
        n = normalize_schema({
            "type": "object",
            "properties": {
                "inner": {"type": "object",
                          "properties": {"x": {"type": "string"}}},
                "arr": {"type": "array",
                        "items": {"type": "object", "properties": {}}},
            }})
        assert n["additionalProperties"] is False
        assert n["properties"]["inner"]["additionalProperties"] is False
        assert n["properties"]["arr"]["items"]["additionalProperties"] is False

    def test_validity_gate(self):
        assert is_valid_normalized_schema({"type": "object"})
        assert is_valid_normalized_schema({"type": ["string", "null"]})
        assert not is_valid_normalized_schema({"type": "tuple"})
        assert not is_valid_normalized_schema({"properties": {}})
        assert not is_valid_normalized_schema(None)

    def test_empty_data_shape(self):
        n = normalize_schema({"a": {"type": "string"},
                              "b": {"type": "object",
                                    "properties": {"c": {"type": "integer"}}}})
        assert build_empty_data_from_schema(n) == {"a": None, "b": {"c": None}}


class TestPrompts:
    def test_field_prompt_flat_and_nested(self):
        # explicit object schema: properties pass through unwrapped
        n = normalize_schema({
            "type": "object",
            "properties": {
                "title": {"type": "string", "description": "page title"},
                "tags": {"type": "array", "items": {"type": "string"}},
                "author": {"type": "object",
                           "properties": {"name": {"type": "string",
                                                   "description": "full name"}}},
            }})
        fp = create_field_prompt(n)
        assert "- title (string): page title" in fp
        assert "- tags (array of strings): " in fp
        # nested object expands with 4-space indent
        assert "- author (object): \n    - name (string): full name" in fp

    def test_typeless_map_rewraps_array_properties(self):
        # reference parity quirk: the type-less-map promotion runs
        # normalizeSchema on every property VALUE, so an array-typed
        # property gets the array-root wrap ({items: ...}) — explicit
        # object schemas do not (normalizeSchema only enforces
        # additionalProperties there)
        n = normalize_schema({"tags": {"type": "array",
                                       "items": {"type": "string"}}})
        tags = n["properties"]["tags"]
        assert tags["type"] == "object"
        assert tags["properties"]["items"]["type"] == "array"

    def test_prompt_assembly_exact(self):
        p = build_extraction_prompt("CONTENT", prompt=None, field_prompt="FP")
        assert p == f"{BASE_EXTRACTION_PROMPT}FP\n\nContent:\nCONTENT"
        p2 = build_extraction_prompt("C", prompt="get prices",
                                     field_prompt="FP")
        assert p2 == (f"{BASE_EXTRACTION_PROMPT} User request: get prices."
                      f"FP\n\nContent:\nC")

    def test_count_tokens_fallback(self):
        assert count_tokens("") == 0
        assert count_tokens("abcd") == 1
        assert count_tokens("abcde") == 2


class TestChunker:
    def test_single_line_never_splits(self):
        text = "x" * 10_000     # no newlines -> one line -> one chunk
        chunks = split_text_into_chunks(text, max_tokens=100,
                                        overlap_tokens=10)
        assert len(chunks) == 1
        assert chunks[0]["chunk"] == text

    def test_fixed_width_lines_split_with_overlap(self):
        # 40 lines x 39 chars; line+\n = 40 chars = 10 tokens
        lines = [f"line-{i:02d}-" + "a" * 31 for i in range(40)]
        assert all(len(ln) == 39 for ln in lines)
        text = "\n".join(lines)
        chunks = split_text_into_chunks(text, max_tokens=100,
                                        overlap_tokens=20)
        # chunk cut before the line that would overflow: 10 lines each
        assert chunks[0]["chunk"].startswith("line-00")
        assert chunks[0]["tokens"] == 100
        # overlap: walking back, each line is ceil(39/4)=10 tokens, so 2
        # lines fit in 20 overlap tokens
        assert chunks[1]["chunk"].startswith(lines[8])
        # indices track the source lines
        assert chunks[0]["start_index"] == 0 and chunks[0]["end_index"] == 9
        # all content covered, in order
        joined = "".join(c["chunk"] for c in chunks)
        for ln in lines:
            assert ln in joined

    def test_falsy_lines_skipped(self):
        text = "a" * 39 + "\n\n\n" + "b" * 39
        chunks = split_text_into_chunks(text, max_tokens=1000,
                                        overlap_tokens=10)
        assert len(chunks) == 1
        # blank lines are skipped by the tokenizer but the join keeps
        # content lines contiguous
        assert chunks[0]["chunk"] == "a" * 39 + "\n" + "b" * 39


class TestReferenceSuiteCases:
    """Deterministic cases re-expressed from the reference's own suites
    (llmExtract.test.ts 'Chunking Analysis'; diff.test.ts
    'classifyPriceChange')."""

    def test_chunking_analysis_shape(self):
        from anycrawl_spark.kernel.llm_extract import split_text_into_chunks

        # short text -> >= 1 chunk, every chunk carries its token count
        short = "\n".join(f"## Section {i}\nBody line {i} " + "w" * 30
                          for i in range(10))
        chunks = split_text_into_chunks(short, 3849, 200)
        assert chunks and all(c["tokens"] > 0 for c in chunks)
        # long text with custom params -> more than one chunk
        long = short * 40
        many = split_text_into_chunks(long, 1000, 200)
        assert len(many) > 1

    def test_classify_price_change_reference_cases(self):
        from anycrawl_spark.monitor import classify_price_change

        # diff.test.ts:56-81, FieldDiff from/to mapped to old/new_value
        def d(path, frm, to, delta=None):
            return {"path": path, "old_value": frm, "new_value": to,
                    "delta": delta}

        assert classify_price_change(
            [d("plans[0].price", 19, 24, 5)]) == "price_up"
        assert classify_price_change([d("price", 24, 19, -5)]) == "price_down"
        # 19 -> 19.10 is ~0.5%, below a 1% threshold
        assert classify_price_change(
            [d("price", 19, 19.1, 0.1)],
            {"price_change_pct": 1}) == "content"
        assert classify_price_change(
            [d("in_stock", True, False)]) == "stock"
        assert classify_price_change([]) is None


class TestMerge:
    def test_arrays_concat_dedup(self):
        got = merge_results([{"a": [1, 2]}, {"a": [2, 3]}])
        assert got == {"a": [1, 2, 3]}

    def test_object_identity_dedup(self):
        got = merge_results([{"a": [{"x": 1}]}, {"a": [{"x": 1}, {"x": 2}]}])
        assert got == {"a": [{"x": 1}, {"x": 2}]}

    def test_objects_shallow_merge(self):
        got = merge_results([{"o": {"x": 1}}, {"o": {"y": 2}}])
        assert got == {"o": {"x": 1, "y": 2}}

    def test_falsy_slot_overwritten_nonempty_kept(self):
        got = merge_results([{"t": ""}, {"t": "real"}, {"t": "later"}])
        assert got == {"t": "real"}
        assert merge_results([{"t": "first"}, {"t": "second"}]) == {"t": "first"}

    def test_null_chunks_and_values_skipped(self):
        assert merge_results([None, {"a": 1}, {"a": None}]) == {"a": 1}
        assert merge_results([]) is None
        assert merge_results([{"a": 1}]) == {"a": 1}

    def test_dedup_primitives(self):
        assert deduplicate_array([1, "1", 1, "x", "x"]) == [1, "1", "x"]
        # JS Set identity: true !== 1 and false !== 0 (booleans kept
        # distinct from numbers), but 1 === 1.0 (same JS number, dedup'd)
        assert deduplicate_array([1, True, 1.0, False, 0]) == [1, True,
                                                               False, 0]


class TestValidator:
    N = normalize_schema({"name": {"type": "string"},
                          "n": {"type": "integer"}})

    def test_accepts_matching_and_null_fields(self):
        validate_against_schema({"name": "a", "n": 3}, self.N)
        validate_against_schema({"name": None, "n": None}, self.N)

    def test_rejects_extra_field(self):
        with pytest.raises(SchemaValidationError, match="additional"):
            validate_against_schema({"name": "a", "n": 1, "zz": 2}, self.N)

    def test_rejects_missing_required_and_bad_type(self):
        with pytest.raises(SchemaValidationError, match="required"):
            validate_against_schema({"name": "a"}, self.N)
        with pytest.raises(SchemaValidationError, match="expected"):
            validate_against_schema({"name": "a", "n": "NaN"}, self.N)

    def test_array_items(self):
        n = normalize_schema({"type": "array", "items": {"type": "integer"}})
        validate_against_schema({"items": [1, 2]}, n)
        with pytest.raises(SchemaValidationError):
            validate_against_schema({"items": [1, "x"]}, n)


def nchars_model(system, prompt, schema):
    content = prompt.split("\n\nContent:\n", 1)[1]
    return {"n_chars": len(content)}


class TestPerform:
    SCHEMA = {"n_chars": {"type": "integer", "description": "char count"}}

    def test_single_call_accounting(self):
        seen = {}

        def model(system, prompt, schema):
            seen["system"], seen["prompt"], seen["schema"] = system, prompt, schema
            return {"n_chars": 7}

        agent = LLMExtract(model)
        r = agent.perform("short content", self.SCHEMA)
        assert r["chunks"] == 1
        assert seen["system"] == EXTRACT_SYSTEM_PROMPT
        assert seen["prompt"].endswith("\n\nContent:\nshort content")
        assert seen["schema"]["additionalProperties"] is False
        expect_in = count_tokens(seen["prompt"] + EXTRACT_SYSTEM_PROMPT)
        expect_out = count_tokens(json.dumps({"n_chars": 7},
                                             separators=(",", ":")))
        assert r["tokens"] == {"input": expect_in, "output": expect_out,
                               "total": expect_in + expect_out}
        assert r["cost"] == pytest.approx(expect_in * 2e-7 + expect_out * 8e-7)

    def test_invalid_schema_skips_model(self):
        def boom(*a):
            raise AssertionError("model must not be called")

        agent = LLMExtract(boom)
        r = agent.perform("text", {"type": "tuple"})
        assert r["data"] == {} and r["cost"] == 0 and r["chunks"] == 1
        r2 = agent.perform("text", None)
        assert r2["data"] == {}

    def test_empty_dict_schema_calls_model(self):
        # {} is truthy in JS: normalizeSchema promotes it to a valid empty
        # object schema and the model IS invoked
        n = normalize_schema({})
        assert n == {"type": "object", "properties": {}, "required": [],
                     "additionalProperties": False}
        calls = []
        agent = LLMExtract(lambda s, p, sc: calls.append(p) or {})
        r = agent.perform("text", {})
        assert calls and r["data"] == {} and r["tokens"]["output"] > 0

    def test_system_prompt_byte_parity(self):
        # extract.prompts.ts line 1 ends with a trailing space before the
        # blank line — one byte that shifts the token accounting
        assert EXTRACT_SYSTEM_PROMPT.startswith(
            "You are a data extraction assistant. You MUST strictly follow "
            "the provided JSON schema structure. \n\nCRITICAL RULES:")
        assert len(EXTRACT_SYSTEM_PROMPT) == 605

    def test_empty_input_returns_null_shape(self):
        agent = LLMExtract(lambda *a: {"n_chars": 1})
        r = agent.perform("   ", self.SCHEMA)
        assert r["data"] == {"n_chars": None}
        assert r["tokens"]["output"] == 0 and r["cost"] == 0

    def test_single_call_validation_error_raises(self):
        agent = LLMExtract(lambda s, p, sc: {"n_chars": 1, "extra": 2})
        with pytest.raises(SchemaValidationError):
            agent.perform("text", self.SCHEMA)

    def test_chunked_merge_and_failed_chunk_null(self):
        lines = [f"L{i:03d} " + "x" * 34 for i in range(30)]   # 39 chars
        text = "\n".join(lines)
        calls = []

        def model(system, prompt, schema):
            content = prompt.split("\n\nContent:\n", 1)[1]
            calls.append(content)
            if len(calls) == 2:
                raise RuntimeError("provider flake")   # chunk 2 -> null
            return {"ids": [ln.split(" ")[0] for ln in content.split("\n")]}

        agent = LLMExtract(model)
        r = agent.perform(
            text,
            {"type": "object",
             "properties": {"ids": {"type": "array",
                                    "items": {"type": "string"}}}},
            max_tokens_input=100, chunk_overlap=20)
        assert r["chunks"] == len(calls) >= 3
        got = r["data"]["ids"]
        # chunk 2's lines are lost to the failed call (minus the two
        # overlap lines its neighbours carry); everything else merged,
        # deduplicated, first-occurrence order
        assert got == sorted(set(got), key=got.index)
        assert "L000" in got and lines[-1].split(" ")[0] in got

    def test_list_input_joined(self):
        agent = LLMExtract(nchars_model)
        r = agent.perform(["ab", "cd"], self.SCHEMA)
        assert r["data"] == {"n_chars": 5}   # "ab\ncd"

    def test_model_config_params(self):
        agent = LLMExtract(nchars_model,
                           model_config={"max_input_tokens": 10000,
                                         "max_output_tokens": 500,
                                         "input_cost_per_token": 1e-6,
                                         "output_cost_per_token": 2e-6})
        p = agent._default_params()
        assert p["max_tokens_input"] == 8000 - count_tokens(
            EXTRACT_SYSTEM_PROMPT)
        assert p["chunk_overlap"] == 200
        r = agent.perform("abc", self.SCHEMA)
        assert r["cost"] == pytest.approx(
            r["tokens"]["input"] * 1e-6 + r["tokens"]["output"] * 2e-6)


class TestSummary:
    def test_single_call(self):
        from anycrawl_spark.kernel.llm_extract import (
            SUMMARY_SYSTEM_PROMPT,
            LLMSummary,
            build_summary_prompt,
        )

        seen = {}

        def model(system, prompt):
            seen["system"], seen["prompt"] = system, prompt
            return "a short summary"

        agent = LLMSummary(model)
        r = agent.perform("page content here")
        assert r["summary"] == "a short summary" and r["chunks"] == 1
        assert seen["system"] == SUMMARY_SYSTEM_PROMPT
        assert seen["prompt"] == build_summary_prompt("page content here")
        assert seen["prompt"].endswith("Content:\npage content here")
        tin = count_tokens(seen["prompt"] + SUMMARY_SYSTEM_PROMPT)
        tout = count_tokens("a short summary")
        assert r["tokens"] == {"input": tin, "output": tout,
                               "total": tin + tout}
        assert r["cost"] == pytest.approx(tin * 2e-7 + tout * 8e-7)

    def test_chunked_merge_call_and_failed_merge_fallback(self):
        from anycrawl_spark.kernel.llm_extract import (
            LLMSummary,
            build_summary_merge_prompt,
        )

        lines = [f"L{i:03d} " + "x" * 34 for i in range(30)]
        text = "\n".join(lines)
        calls = []

        def model(system, prompt):
            calls.append(prompt)
            if prompt.startswith("You are given multiple summaries"):
                assert prompt == build_summary_merge_prompt(
                    [f"S{i}" for i in range(1, len(calls))])
                return "MERGED"
            return f"S{len(calls)}"

        agent = LLMSummary(model)
        r = agent.perform(text, max_tokens_input=100, chunk_overlap=20)
        assert r["chunks"] >= 3
        assert r["summary"] == "MERGED"
        # the merge call's usage is NOT in the totals (reference records
        # the merge step with zero cost/tokens)
        per_chunk_out = sum(count_tokens(f"S{i}")
                            for i in range(1, r["chunks"] + 1))
        assert r["tokens"]["output"] == per_chunk_out

        # failed chunk -> '' filtered before merge; failed merge -> join
        def flaky(system, prompt):
            if prompt.startswith("You are given multiple summaries"):
                raise RuntimeError("merge provider down")
            if "L000" in prompt:
                raise RuntimeError("first chunk fails")
            return "OK"

        r2 = LLMSummary(flaky).perform(text, max_tokens_input=100,
                                       chunk_overlap=20)
        assert r2["summary"] == "\n\n".join(["OK"] * (r2["chunks"] - 1))

    def test_single_summary_skips_merge(self):
        from anycrawl_spark.kernel.llm_extract import LLMSummary

        def model(system, prompt):
            assert not prompt.startswith("You are given multiple")
            return "only"

        r = LLMSummary(model).perform("tiny")
        assert r["summary"] == "only"


class TestJsonExtractUdf:
    def test_udf_over_documents(self, spark):
        from pyspark.sql import functions as F

        from anycrawl_spark.udfs import make_json_extract_udf

        # the fake model must live in an importable module (cloudpickle
        # serializes module-level functions by reference; executor workers
        # can't import tests/)
        from anycrawl_spark.operators.queries import _llm_nchars_model

        df = spark.createDataFrame(
            [("d1", "hello world"), ("d2", "x" * 100), ("d3", "")],
            "doc_id string, md string")
        udf = make_json_extract_udf(
            {"schema": {"n_chars": {"type": "integer",
                                    "description": "char count"}}},
            model_call=_llm_nchars_model)
        rows = {r["doc_id"]: r for r in df.select(
            "doc_id", udf(F.col("md"),
                          F.lit(None).cast("binary")).alias("j")).collect()}
        assert json.loads(rows["d1"]["j"]["data"]) == {"n_chars": 11}
        assert json.loads(rows["d2"]["j"]["data"]) == {"n_chars": 100}
        # empty markdown -> null-shape, zero cost
        assert json.loads(rows["d3"]["j"]["data"]) == {"n_chars": None}
        assert rows["d3"]["j"]["cost"] == 0.0
        assert rows["d1"]["j"]["chunks"] == 1

    def test_udf_default_seam_returns_null_shape(self, spark):
        from pyspark.sql import functions as F

        from anycrawl_spark.udfs import make_json_extract_udf

        df = spark.createDataFrame([("content here",)], "md string")
        udf = make_json_extract_udf(
            {"schema": {"a": {"type": "string"}}})
        row = df.select(udf(F.col("md"),
                            F.lit(None).cast("binary")).alias("j")).collect()[0]
        assert json.loads(row["j"]["data"]) == {"a": None}


class TestChunkerProperties:
    def test_reconstruction_property_no_overlap(self):
        # with zero overlap, every non-empty line of the input appears, in
        # order, across the chunk sequence (with overlap the REFERENCE
        # glues the first new line onto the last overlap line — see below)
        from hypothesis import given, settings, strategies as st

        # lines pre-stripped: the chunker strips whole chunks, so a
        # space-padded boundary line legitimately loses its padding
        line = st.text(alphabet="abcdef ghij", min_size=0,
                       max_size=50).map(str.strip)

        @settings(max_examples=200, deadline=None)
        @given(st.lists(line, min_size=0, max_size=60),
               st.integers(min_value=10, max_value=200))
        def check(lines, max_tokens):
            text = "\n".join(lines)
            chunks = split_text_into_chunks(text, max_tokens, 0)
            wanted = [ln for ln in lines if ln and ln.strip()]
            # walk chunks in order, consuming wanted lines greedily
            it = iter(wanted)
            pending = next(it, None)
            for c in chunks:
                for got in c["chunk"].split("\n"):
                    if pending is not None and got == pending:
                        pending = next(it, None)
            assert pending is None, (lines, max_tokens,
                                     [c["chunk"] for c in chunks])

        check()

    def test_overlap_glue_quirk_is_reference_faithful(self):
        # TextChunker.ts:44-46: `currentChunk = overlapLines.join('\n')`
        # has no trailing newline, then `currentChunk += line + '\n'` —
        # the first post-cut line GLUES onto the last overlap line. Found
        # by the reconstruction property; pinned as expected behavior.
        lines = ["a", "a", "a", "a", "aaaa", "a" * 16]
        chunks = split_text_into_chunks("\n".join(lines), 10, 1)
        assert [c["chunk"] for c in chunks] == ["a\na\na\na\naaaa", "a" * 20]


class TestModelDetailConfig:
    """helper.ts:8-25 candidate resolution order."""

    CFG = {
        "openrouter/openai/gpt-4o": {"id": "full"},
        "openai/gpt-4o": {"id": "two"},
        "gpt-4o": {"id": "bare"},
    }

    def test_candidate_order(self):
        from anycrawl_spark.kernel.llm_extract import get_model_detail_config
        assert get_model_detail_config(
            "openrouter/openai/gpt-4o", self.CFG)["id"] == "full"
        # full id miss -> after-first-slash
        assert get_model_detail_config(
            "azure/openai/gpt-4o", self.CFG)["id"] == "two"
        # after-first-slash miss -> last two segments
        assert get_model_detail_config(
            "a/b/openai/gpt-4o", self.CFG)["id"] == "two"
        # everything else miss -> bare last segment
        assert get_model_detail_config(
            "x/y/gpt-4o", {"gpt-4o": {"id": "bare"}})["id"] == "bare"
        assert get_model_detail_config("nope/xx", self.CFG) is None
        # no slash: only the exact id is tried
        assert get_model_detail_config("gpt-4o", self.CFG)["id"] == "bare"


class TestModelCapabilities:
    """BaseAgent.getModelCapabilities (BaseAgent.ts:173-195)."""

    def test_no_config_defaults(self):
        from anycrawl_spark.kernel.llm_extract import get_model_capabilities
        assert get_model_capabilities(None) == {
            "maxInputTokens": 4000, "maxOutputTokens": 2000,
            "supportsVision": False, "supportsFunctionCalling": False,
            "supportsStreaming": False, "inputCostPerToken": 0,
            "outputCostPerToken": 0}

    def test_max_tokens_fallback_chain(self):
        from anycrawl_spark.kernel.llm_extract import get_model_capabilities
        caps = get_model_capabilities({"max_tokens": 8192})
        assert caps["maxInputTokens"] == 8192
        assert caps["maxOutputTokens"] == 8192
        caps = get_model_capabilities(
            {"max_input_tokens": 100, "max_output_tokens": 50,
             "max_tokens": 8192})
        assert (caps["maxInputTokens"], caps["maxOutputTokens"]) == (100, 50)

    def test_js_or_zero_falls_through(self):
        # || chains: a 0 max_input_tokens behaves like absent
        from anycrawl_spark.kernel.llm_extract import get_model_capabilities
        caps = get_model_capabilities(
            {"max_input_tokens": 0, "max_tokens": 0,
             "input_cost_per_token": 0.0})
        assert caps["maxInputTokens"] == 4000
        assert caps["inputCostPerToken"] == 0

    def test_streaming_key_name(self):
        # the reference reads supports_native_streaming, NOT
        # supports_streaming
        from anycrawl_spark.kernel.llm_extract import get_model_capabilities
        assert get_model_capabilities(
            {"supports_streaming": True})["supportsStreaming"] is False
        assert get_model_capabilities(
            {"supports_native_streaming": True})["supportsStreaming"] is True
