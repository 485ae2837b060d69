"""Multimodal pipeline, page-cache memoization, monitor diff ops
(SURVEY.md §2.1 S8 / §2.5 A6 / §2.8 M1-M5; task-brief multimodal columns)."""

import datetime

import pytest
from pyspark.sql import functions as F

from anycrawl_spark.cache import cache_lookup, cache_upsert
from anycrawl_spark.monitor import (
    classify_price_change,
    lcs_diff,
    normalize_content_col,
    snapshot_changes,
)


class TestMultimodal:
    def test_decode_metadata(self, spark):
        from anycrawl_spark.operators.multimodal import decode_media

        media = spark.createDataFrame(
            [(1, b"imagebytes", "image"), (2, b"audiobytes", "audio"),
             (3, b"videobytes", "video")],
            schema="media_id long, payload binary, modality string")
        meta = {r["media_id"]: r for r in decode_media(media).collect()}
        assert meta[1]["payload_bytes"] == 10
        assert meta[1]["width"] > 0 and meta[1]["duration_ms"] == 0
        assert meta[2]["sample_rate"] == 16000 and meta[2]["duration_ms"] > 0
        assert meta[3]["duration_ms"] > 0 and meta[3]["width"] > 0
        # deterministic across runs
        again = {r["media_id"]: r for r in decode_media(media).collect()}
        assert meta == again

    def test_feature_extract_resize_framesample(self, spark):
        from anycrawl_spark.operators.multimodal import decode_media, extract_features

        media = spark.createDataFrame(
            [(1, b"x" * 100, "image"), (2, b"y" * 100, "video")],
            schema="media_id long, payload binary, modality string")
        meta = decode_media(media)
        feats = {r["media_id"]: r for r in extract_features(media, meta).collect()}
        assert len(feats[1]["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in feats[1]["feature"])
        assert feats[1]["resized_width"] <= 224 and feats[1]["resized_height"] <= 224
        assert feats[1]["n_frames_sampled"] == 0  # images: duration 0
        assert 1 <= feats[2]["n_frames_sampled"] <= 4

    def test_documents_adapter(self, spark):
        from anycrawl_spark.operators.multimodal import (
            decode_media,
            documents_as_media,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        media = documents_as_media(docs.limit(30))
        meta = decode_media(media)
        assert meta.count() == 30
        assert meta.where(F.col("payload_sha").isNull()).count() == 0

    def test_codec_roundtrip(self):
        from anycrawl_spark.operators.media_codec import (
            decode_media_bytes, make_gif, make_jpeg, make_mp4, make_png,
            make_wav)

        cases = [
            (make_png(336, 216), ("png", 336, 216, 0, 0)),
            (make_gif(17, 65535), ("gif", 17, 65535, 0, 0)),
            (make_jpeg(1920, 1080), ("jpeg", 1920, 1080, 0, 0)),
            (make_wav(16000, 1600), ("wav", 0, 0, 100, 16000)),
            (make_wav(24000, 1000), ("wav", 0, 0, 1000 * 1000 // 24000, 24000)),
            (make_mp4(640, 480, 1500, 600), ("mp4", 640, 480, 2500, 0)),
        ]
        for payload, want in cases:
            d = decode_media_bytes(payload)
            assert (d["format"], d["width"], d["height"],
                    d["duration_ms"], d["sample_rate"]) == want

    def test_codec_malformed_inputs(self):
        from anycrawl_spark.operators.media_codec import (
            decode_media_bytes, make_jpeg, make_png)

        assert decode_media_bytes(b"")["format"] == "unknown"
        assert decode_media_bytes(b"plain text")["format"] == "unknown"
        # truncated PNG: magic only, no IHDR → png with zeroed fields
        d = decode_media_bytes(b"\x89PNG\r\n\x1a\n\x00\x00")
        assert d["format"] == "png" and d["width"] == 0
        # JPEG whose SOF is missing (SOI + EOI): no crash, zero dims
        d = decode_media_bytes(b"\xff\xd8\xff\xd9")
        assert d["format"] == "jpeg" and d["width"] == 0
        # full files truncated mid-header must not raise
        for b in (make_png(33, 7), make_jpeg(100, 50)):
            for cut in (4, 10, len(b) - 1):
                decode_media_bytes(b[:cut])

    def test_codec_spec_edge_cases(self):
        """JPEG 0xFF fill bytes before a marker and MP4 version-1 mvhd —
        both legal per spec and common in the wild."""
        import struct

        from anycrawl_spark.operators.media_codec import decode_media_bytes

        app0 = (b"\xff\xff\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00" + b"\x00" * 9)
        sof = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
               + struct.pack(">HH", 480, 640) + b"\x03")
        d = decode_media_bytes(b"\xff\xd8" + app0 + sof + b"\xff\xd9")
        assert (d["width"], d["height"]) == (640, 480)

        mvhd_body = (bytes([1, 0, 0, 0]) + b"\x00" * 16
                     + struct.pack(">I", 1000) + struct.pack(">Q", 90000))
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        d = decode_media_bytes(ftyp + moov)
        assert d["format"] == "mp4" and d["duration_ms"] == 90000

    def test_real_decode_in_spark_stage(self, spark):
        from anycrawl_spark.operators.media_codec import make_png, make_wav
        from anycrawl_spark.operators.multimodal import decode_media

        media = spark.createDataFrame(
            [(1, make_png(320, 200), "image"),
             (2, make_wav(8000, 4000), "audio"),
             (3, b"no magic here", "video")],
            schema="media_id long, payload binary, modality string")
        meta = {r["media_id"]: r for r in decode_media(media).collect()}
        assert meta[1]["format"] == "png"
        assert (meta[1]["width"], meta[1]["height"]) == (320, 200)
        assert meta[2]["format"] == "wav"
        assert meta[2]["sample_rate"] == 8000
        assert meta[2]["duration_ms"] == 500
        assert meta[3]["format"] == "unknown"  # stub fallback, flagged

    def test_synthesize_media_parameter_map(self, spark):
        from anycrawl_spark.operators.media_codec import decode_media_bytes
        from anycrawl_spark.operators.multimodal import synthesize_media

        docs = spark.createDataFrame(
            [(i,) for i in range(12)], schema="doc_id long")
        rows = {r["media_id"]: r for r in synthesize_media(docs).collect()}
        assert len(rows) == 12
        d0 = decode_media_bytes(bytes(rows[0]["payload"]))
        assert d0["format"] == "png" and d0["width"] == 16
        d3 = decode_media_bytes(bytes(rows[3]["payload"]))
        assert d3["format"] == "gif" and d3["width"] == 16 + 3
        d6 = decode_media_bytes(bytes(rows[6]["payload"]))
        assert d6["format"] == "jpeg"
        d1 = decode_media_bytes(bytes(rows[1]["payload"]))
        assert d1["format"] == "wav" and d1["sample_rate"] == 12000
        d2 = decode_media_bytes(bytes(rows[2]["payload"]))
        assert d2["format"] == "mp4" and d2["width"] == 160 + 32


class TestCache:
    def test_lookup_newest_within_max_age(self, spark):
        oh = "opts-markdown"
        t = datetime.datetime(2025, 6, 1, 12, 0, 0)
        cache = spark.createDataFrame(
            [("h1", oh, "https://a.test/1", "OLD", "t", "T", 200, t - datetime.timedelta(days=3)),
             ("h1", oh, "https://a.test/1", "NEW", "t", "T", 200, t - datetime.timedelta(hours=1)),
             ("h2", oh, "https://a.test/2", "EXPIRED", "t", "T", 200, t - datetime.timedelta(days=30)),
             ("h3", "other", "https://a.test/3", "WRONGOPTS", "t", "T", 200, t)],
            schema="url_hash string, options_hash string, url string, markdown string, "
                   "text string, title string, status int, scraped_at timestamp")
        frontier = spark.createDataFrame(
            [("h1",), ("h2",), ("h3",), ("h4",)], schema="url_hash string")
        out = {r["url_hash"]: r for r in cache_lookup(
            frontier, cache, oh, max_age_seconds=2 * 86400,
            now_expr=f"timestamp'{t.isoformat(sep=' ')}'").collect()}
        assert out["h1"]["cache_hit"] and out["h1"]["cached_markdown"] == "NEW"
        assert not out["h2"]["cache_hit"]   # older than max_age (2d default TTL)
        assert not out["h3"]["cache_hit"]   # different options hash
        assert not out["h4"]["cache_hit"]   # miss

    def test_tier_default_ttls(self, spark):
        from anycrawl_spark.cache import (
            DEFAULT_MAX_AGE_SECONDS, SITEMAP_MAX_AGE_SECONDS, cache_lookup,
            ttl_for_tier)

        assert ttl_for_tier("page") == DEFAULT_MAX_AGE_SECONDS == 2 * 86400
        assert ttl_for_tier("sitemap") == SITEMAP_MAX_AGE_SECONDS == 7 * 86400
        oh = "opts-default"
        t = datetime.datetime(2025, 6, 1, 12, 0, 0)
        cache = spark.createDataFrame(
            [("h1", oh, "u1", "AGE3D", "t", "T", 200, t - datetime.timedelta(days=3))],
            schema="url_hash string, options_hash string, url string, markdown string, "
                   "text string, title string, status int, scraped_at timestamp")
        frontier = spark.createDataFrame([("h1",)], schema="url_hash string")
        now = f"timestamp'{t.isoformat(sep=' ')}'"
        # 3-day-old entry: expired under the page tier (2d), fresh under
        # sitemap (7d), present when the filter is explicitly disabled
        page = cache_lookup(frontier, cache, oh, now_expr=now).head()
        sitemap = cache_lookup(frontier, cache, oh, now_expr=now,
                               tier="sitemap").head()
        unlimited = cache_lookup(frontier, cache, oh, now_expr=now,
                                 tier=None).head()
        override = cache_lookup(frontier, cache, oh, now_expr=now,
                                max_age_seconds=4 * 86400).head()
        assert not page["cache_hit"]
        assert sitemap["cache_hit"]
        assert unlimited["cache_hit"]
        assert override["cache_hit"]  # per-call max_age beats tier default

    def test_upsert_latest_wins(self, spark):
        t = datetime.datetime(2025, 6, 1)
        schema = ("url_hash string, options_hash string, url string, markdown string, "
                  "text string, title string, status int, scraped_at timestamp")
        old = spark.createDataFrame(
            [("h1", "o", "u1", "V1", "t", "T", 200, t)], schema=schema)
        new = spark.createDataFrame(
            [("h1", "o", "u1", "V2", "t", "T", 200, t + datetime.timedelta(hours=1)),
             ("h2", "o", "u2", "V", "t", "T", 200, t)], schema=schema)
        merged = {r["url_hash"]: r for r in cache_upsert(old, new).collect()}
        assert merged["h1"]["markdown"] == "V2"
        assert len(merged) == 2


class TestMonitor:
    def test_lcs_diff(self):
        d = lcs_diff("a\nb\nc", "a\nx\nc\nd")
        assert d["removed"] == 1 and d["added"] == 2
        assert "-b" in d["hunks"] and "+x" in d["hunks"] and "+d" in d["hunks"]
        assert 0 < d["change_ratio"] <= 1

    def test_identical_no_change(self):
        d = lcs_diff("same\ntext", "same\ntext")
        assert d["added"] == 0 and d["removed"] == 0 and d["change_ratio"] == 0

    def test_snapshot_changes(self, spark):
        t = datetime.datetime(2025, 6, 1)
        snaps = spark.createDataFrame(
            [("m1", "u", "line1\nline2", t),
             ("m1", "u", "line1\nline2", t + datetime.timedelta(hours=1)),
             ("m1", "u", "line1\nCHANGED", t + datetime.timedelta(hours=2))],
            schema="monitor_id string, url string, content string, captured_at timestamp")
        changes = snapshot_changes(snaps).collect()
        assert len(changes) == 1  # unchanged middle snapshot produces no row
        assert changes[0]["lines_added"] == 1 and changes[0]["lines_removed"] == 1

    def test_normalize_content_pick_order(self, spark):
        df = spark.createDataFrame(
            [("md", "tx", "ht", "raw"), (None, "tx", "ht", "raw"),
             (None, None, None, "raw")],
            schema="markdown string, text string, html string, raw_html string")
        got = [r["c"] for r in df.select(normalize_content_col().alias("c")).collect()]
        assert got == ["md", "tx", "raw"]

    def test_price_classifier(self):
        # diff.ts:224-261 exact: list-level classification
        def d(path, frm, to):
            delta = (to - frm) if isinstance(frm, (int, float)) \
                and isinstance(to, (int, float)) else None
            return {"path": path, "old_value": frm, "new_value": to,
                    "delta": delta}

        assert classify_price_change([d("offer.price", 100.0, 80.0)]) \
            == "price_down"
        assert classify_price_change([d("offer.price", 100.0, 120.0)]) \
            == "price_up"
        # price_up wins over price_down and stock
        assert classify_price_change(
            [d("a.price", 10.0, 5.0), d("b.rate", 1.0, 2.0),
             d("stock", 1, 0)]) == "price_up"
        # stock-path fields are never price-classified
        assert classify_price_change([d("stock_price", 100.0, 1.0)]) == "stock"
        # below the pct threshold -> generic content change
        assert classify_price_change(
            [d("offer.price", 100.0, 104.0)],
            {"price_change_pct": 5.0}) == "content"
        # from == 0 counts as a 100% move
        assert classify_price_change(
            [d("cost", 0.0, 3.0)], {"price_change_pct": 50.0}) == "price_up"
        # non-numeric price endpoints -> content; empty list -> None
        assert classify_price_change([d("price", None, 2.0)]) == "content"
        assert classify_price_change([]) is None
        assert classify_price_change([d("title", 1.0, 2.0)]) == "content"


class TestJsonDiff:
    def test_recursive_field_diff(self):
        from anycrawl_spark.monitor import json_field_diff

        old = {"offer": {"price": 100.0, "currency": "USD"},
               "tags": ["a", "b"], "stock": 5}
        new = {"offer": {"price": 80.0, "currency": "USD"},
               "tags": ["a", "c", "d"], "sku": "X1"}
        changes = {c["path"]: c for c in json_field_diff(old, new)}
        assert changes["offer.price"]["change"] == "modified"
        assert changes["offer.price"]["delta"] == -20.0
        assert changes["tags[1]"]["change"] == "modified"
        assert changes["tags[2]"]["change"] == "added"
        assert changes["stock"]["change"] == "removed"
        assert changes["sku"]["change"] == "added"
        assert "offer.currency" not in changes

    def test_price_pipeline(self):
        from anycrawl_spark.monitor import classify_price_change, json_field_diff

        changes = json_field_diff({"offer": {"price": 100.0}},
                                  {"offer": {"price": 80.0}})
        assert classify_price_change(changes) == "price_down"


class TestRealIvf:
    def test_recall_and_pruned_scan(self, spark):
        """ann_ivf_real: (a) recall@10 >= 0.9 vs DuckDB brute-force cosine,
        (b) the probe physically reads ONLY the nprobe probed cell
        partitions (inputFiles check = partition pruning at file level)."""
        import tempfile

        import duckdb
        import numpy as np

        from anycrawl_spark.operators.ann import (
            build_ivf_index, ivf_topk, probe_cells, train_centroids)

        sf_dir = "/root/testdata/sf0.01"
        embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = train_centroids(embeddings, k=16, iters=8)
        index_path = tempfile.mkdtemp(prefix="ivf_test_")
        from pyspark.sql import functions as F
        build_ivf_index(embeddings.where(F.col("vec_id") != 0),
                        index_path, centroids)
        qv = embeddings.where(F.col("vec_id") == 0).select("embedding").head()[0]

        got = ivf_topk(spark, index_path, centroids, qv, k=10, nprobe=4)
        probed = set(probe_cells(centroids, np.asarray(qv, dtype=np.float64), 4))

        # (b) pruned scan: the physical plan carries a PartitionFilter on
        # cell = the probed set (inputFiles() lists the unpruned FileIndex,
        # so the plan is the right evidence surface)
        plan = got._jdf.queryExecution().executedPlan().toString()
        pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf_lines, plan
        import re
        m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]",
                      pf_lines[0])
        assert m, pf_lines[0]
        assert {int(x) for x in m.group(1).split(",")} == probed
        # and the scanned rows are confined to probed cells
        cells_read = {r["cell"] for r in
                      spark.read.parquet(index_path)
                      .where(F.col("cell").isin(list(probed)))
                      .select("cell").distinct().collect()}
        assert cells_read <= probed

        got_ids = [r["vec_id"] for r in got.collect()]
        assert len(got_ids) == 10

        con = duckdb.connect()
        truth = con.execute(f"""
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM read_parquet('{sf_dir}/embeddings.parquet')),
                 q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            SELECT e.vec_id FROM e, q WHERE e.vec_id != 0
            ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id
            LIMIT 10""").fetchall()
        truth_ids = {r[0] for r in truth}
        recall = len(truth_ids & set(got_ids)) / 10
        assert recall >= 0.9, (recall, sorted(got_ids), sorted(truth_ids))

    def test_deterministic_index(self, spark):
        """Same data -> same centroids -> same top-k (pure function, resume-
        safe)."""
        from anycrawl_spark.operators.ann import train_centroids
        import numpy as np

        embeddings = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        c1 = train_centroids(embeddings, k=8, iters=4)
        c2 = train_centroids(embeddings, k=8, iters=4)
        assert np.array_equal(c1, c2)


class TestConnectedComponents:
    def test_min_label_propagation(self, spark):
        from anycrawl_spark.operators.dedup import connected_components

        # two chains + a singleton: {1-2-3-4}, {10-11}, {99}
        verts = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "id long")
        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (4, 3), (10, 11)], "src long, dst long")
        got = {r["id"]: r["cluster"]
               for r in connected_components(verts, edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}

    def test_two_star_matches_union_find(self, spark):
        """Alternating large-star/small-star must label identically to a
        driver-side union-find on a random graph AND on a 60-node path
        (diameter 59 — the case min-label propagation needs 59 rounds for;
        two-star converges within its default max_iter=20 ≈ O(log n))."""
        import random

        from anycrawl_spark.operators.dedup import connected_components_two_star

        def union_find(n_ids, edge_list):
            parent = {i: i for i in n_ids}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edge_list:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            return {i: find(i) for i in n_ids}

        rng = random.Random(42)
        ids = list(range(100))
        rand_edges = [(rng.randrange(100), rng.randrange(100))
                      for _ in range(60)]
        path_edges = [(i + 100, i + 101) for i in range(59)]  # 60-node path
        ids += list(range(100, 160))
        edge_list = rand_edges + path_edges

        verts = spark.createDataFrame([(i,) for i in ids], "id long")
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["id"]: r["cluster"]
               for r in connected_components_two_star(verts, edges).collect()}
        assert got == union_find(ids, edge_list)

    def test_representative_policy(self, spark):
        from anycrawl_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame(
            [(0, 3), (3, 5)], "doc_a long, doc_b long")
        rows = {r["doc_id"]: (r["cluster"], r["is_representative"])
                for r in dedup_clusters(docs, pairs).collect()}
        assert rows[0] == (0, 1) and rows[3] == (0, 0) and rows[5] == (0, 0)
        assert rows[1] == (1, 1) and rows[2] == (2, 1) and rows[4] == (4, 1)


class TestAsofJoin:
    def test_backward_semantics(self, spark):
        from anycrawl_spark.operators.relational import asof_join_backward

        left = spark.createDataFrame(
            [(1, 10, "L10"), (1, 20, "L20"), (2, 5, "L5")],
            "k long, ts long, lbl string")
        right = spark.createDataFrame(
            [(1, 10, "R10"), (1, 15, "R15"), (1, 25, "R25"), (3, 1, "R1")],
            "k long, ts long, rv string")
        got = {(r["k"], r["ts"]): (r["rv_right"], r["ts_right"])
               for r in asof_join_backward(
                   left, right, on="k", right_cols=["rv"]).collect()}
        # ts=10 matches the equal-timestamp right row (>= contract)
        assert got[(1, 10)] == ("R10", 10)
        # ts=20: latest right at-or-before is 15
        assert got[(1, 20)] == ("R15", 15)
        # key 2 has no right rows -> NULLs
        assert got[(2, 5)] == (None, None)

    def test_null_value_in_latest_right_row_wins(self, spark):
        """The as-of match must take ALL columns from the single latest
        right row — a per-column last(ignorenulls) would skip a genuine
        NULL and resurrect an older value (mixed-row output)."""
        from anycrawl_spark.operators.relational import asof_join_backward

        left = spark.createDataFrame([(1, 3)], "k long, ts long")
        right = spark.createDataFrame(
            [(1, 1, "old"), (1, 2, None)], "k long, ts long, rv string")
        row = asof_join_backward(left, right, on="k",
                                 right_cols=["rv"]).collect()[0]
        assert row["ts_right"] == 2 and row["rv_right"] is None

    def test_tiebreak_deterministic(self, spark):
        from anycrawl_spark.operators.relational import asof_join_backward

        left = spark.createDataFrame([(1, 5)], "k long, ts long")
        right = spark.createDataFrame(
            [(1, 5, 101), (1, 5, 107), (1, 5, 103)], "k long, ts long, rid long")
        row = asof_join_backward(left, right, on="k", right_cols=["rid"],
                                 right_tiebreak="rid").collect()[0]
        assert row["rid_right"] == 107  # highest tiebreak wins, every run


class TestSessionStateFn:
    def test_late_event_does_not_regress_bounds(self):
        """A later micro-batch can deliver an earlier timestamp; it must
        extend the open session's bounds, never regress last_us (which
        would force a premature close on the next on-time event)."""
        import pandas as pd

        from anycrawl_spark.streaming.stateful import (
            SESSION_GAP_US,
            session_state_fn,
        )

        class FakeState:
            def __init__(self):
                self.exists = False
                self._v = None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v
                self.exists = True

        s = FakeState()
        base = 1_000_000_000
        list(session_state_fn(("u",), [pd.DataFrame({"ts_us": [base]})], s))
        # late event 300s earlier arrives in the next batch
        list(session_state_fn(("u",),
                              [pd.DataFrame({"ts_us": [base - 300_000_000]})], s))
        start_us, last_us, n = s.get
        assert last_us == base                      # not regressed
        assert start_us == base - 300_000_000       # extended backwards
        # an event 28min after base stays IN session (gap measured from base)
        list(session_state_fn(
            ("u",), [pd.DataFrame({"ts_us": [base + SESSION_GAP_US - 1]})], s))
        assert s.get[2] == 3 and s.get[1] == base + SESSION_GAP_US - 1


class TestCandidateBoundedPairs:
    """The 100-TB dedup path scores similarity only over banded candidate
    pairs (VERDICT r2 #3): verify it recovers the block-join results."""

    def test_jaccard_candidates_recall(self, spark):
        from anycrawl_spark.operators.queries import REGISTRY

        sf = "/root/testdata/sf0.001"
        block = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in REGISTRY["ngram_jaccard_pairs"].fn(spark, sf).collect()}
        cand = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in REGISTRY["jaccard_over_candidates"].fn(spark, sf).collect()}
        # identical scores wherever both report a pair
        for k in block.keys() & cand.keys():
            assert abs(block[k] - cand[k]) < 1e-9
        # high-similarity pairs must survive banding (LSH recall grows with
        # similarity; at jaccard >= 0.5 two 3-row minhash bands catch nearly
        # all — assert >= 0.8 to stay robust to fixture drift)
        strong = {k for k, v in block.items() if v >= 0.5}
        if strong:
            recall = len(strong & cand.keys()) / len(strong)
            assert recall >= 0.8, (recall, len(strong))

    def test_cosine_candidates_recall(self, spark):
        from anycrawl_spark.operators.queries import REGISTRY

        sf = "/root/testdata/sf0.001"
        block = {(r["vec_a"], r["vec_b"]): r["cosine"]
                 for r in REGISTRY["embed_cosine_pairs"].fn(spark, sf).collect()}
        cand = {(r["vec_a"], r["vec_b"]): r["cosine"]
                for r in REGISTRY["cosine_over_candidates"].fn(spark, sf).collect()}
        for k in block.keys() & cand.keys():
            assert abs(block[k] - cand[k]) < 1e-9
        # WTA banding is label-blind: near-identical vectors (cosine >= 0.9)
        # agree on almost all coordinate comparisons, so an 8-bit band match
        # is near-certain
        strong = {k for k, v in block.items() if v >= 0.9}
        if strong:
            recall = len(strong & cand.keys()) / len(strong)
            assert recall >= 0.8, (recall, len(strong))


class TestScheduler:
    """Scheduled-task recurrence (Scheduler.ts cron core): parser grammar,
    the reference idempotency-key format, and the IANA-DST edges the
    fixed-offset oracle can't reach."""

    def test_parse_cron_grammar(self):
        from anycrawl_spark.scheduler import parse_cron

        c = parse_cron("*/15 9-17 1,15 MAR-MAY MON-FRI")
        assert c["minutes"] == frozenset(range(0, 60, 15))
        assert c["hours"] == frozenset(range(9, 18))
        assert c["doms"] == frozenset({1, 15})
        assert c["months"] == frozenset({3, 4, 5})
        assert c["dows"] == frozenset({1, 2, 3, 4, 5})
        assert c["doms_restricted"] and c["dows_restricted"]
        # dow 7 aliases Sunday=0; '*' and '*/n' are unrestricted (Vixie)
        assert parse_cron("0 0 * * 7")["dows"] == frozenset({0})
        assert not parse_cron("*/5 * * * *")["minutes_restricted"]
        import pytest
        with pytest.raises(ValueError):
            parse_cron("0 0 * *")            # 4 fields
        with pytest.raises(ValueError):
            parse_cron("61 0 * * *")         # out of range

    def _slots(self, spark, cron, tz, start, end):
        from anycrawl_spark.scheduler import TASK_SCHEMA, scheduled_run_slots

        tasks = spark.createDataFrame(
            [("t1", cron, tz, False)], TASK_SCHEMA)
        return sorted(r["scheduled_for"] for r in
                      scheduled_run_slots(tasks, start, end).collect())

    def test_idempotency_key_format(self, spark):
        # Scheduler.lifecycle.test.ts:83-89: "task-1-2026-05-28T01:00:00.000Z"
        from anycrawl_spark.scheduler import TASK_SCHEMA, scheduled_run_slots

        tasks = spark.createDataFrame(
            [("task-1", "0 1 28 5 *", "UTC", False)], TASK_SCHEMA)
        rows = scheduled_run_slots(
            tasks, "2026-05-28T00:00:00", "2026-05-29T00:00:00").collect()
        assert [r["idempotency_key"] for r in rows] == [
            "task-1-2026-05-28T01:00:00.000Z"]

    def test_dst_spring_forward_skips(self, spark):
        # America/New_York 2026-03-08: 02:00-03:00 local doesn't exist;
        # cron-parser produces no slot that day for '30 2 * * *'
        got = self._slots(spark, "30 2 * * *", "America/New_York",
                          "2026-03-07T00:00:00", "2026-03-10T00:00:00")
        assert got == ["2026-03-07T07:30:00.000Z",   # EST (UTC-5)
                       "2026-03-09T06:30:00.000Z"]   # EDT (UTC-4), no Mar 8

    def test_dst_fall_back_fires_once(self, spark):
        # America/New_York 2026-11-01: 01:30 local occurs twice (EDT then
        # EST); the slot fires ONCE at the first (earlier-offset) instant
        got = self._slots(spark, "30 1 * * *", "America/New_York",
                          "2026-11-01T00:00:00", "2026-11-02T00:00:00")
        assert got == ["2026-11-01T05:30:00.000Z"]   # 01:30 EDT, not 06:30

    def test_candidate_expansion_equals_utc_scan(self, spark):
        """The candidate-wall-clock expansion must emit exactly the slots a
        brute-force scan of every UTC minute (via cron_matches_local, the
        retained reference implementation) produces — across both IANA DST
        transitions and an every-minute cron."""
        from datetime import datetime, timedelta, timezone
        from zoneinfo import ZoneInfo

        from anycrawl_spark.scheduler import cron_matches_local, parse_cron

        windows = [("2026-03-07T12:00:00", "2026-03-09T12:00:00"),
                   ("2026-10-31T12:00:00", "2026-11-02T12:00:00")]
        crons = ["*/15 * * * *", "30 2 * * *", "30 1 * * SUN", "* * * * *"]
        tz = ZoneInfo("America/New_York")
        for start_s, end_s in windows:
            for cron_s in crons:
                cron = parse_cron(cron_s)
                w0 = datetime.fromisoformat(start_s).replace(
                    tzinfo=timezone.utc)
                w1 = datetime.fromisoformat(end_s).replace(tzinfo=timezone.utc)
                expected = {}
                u = w0
                while u < w1:
                    loc = u.astimezone(tz)
                    if cron_matches_local(cron, loc):
                        key = loc.strftime("%Y-%m-%d %H:%M")
                        expected[key] = min(expected.get(key, u), u)
                    u += timedelta(minutes=1)
                got = self._slots(spark, cron_s, "America/New_York",
                                  start_s, end_s)
                want = sorted(
                    u.strftime("%Y-%m-%dT%H:%M:%S.000Z")
                    for u in expected.values())
                assert got == want, (cron_s, start_s)

    def test_dom_dow_or_rule_and_pause(self, spark):
        from anycrawl_spark.scheduler import TASK_SCHEMA, scheduled_run_slots

        # dom=1 OR Monday (both restricted): 2026-03-01 is Sunday (dom),
        # 2026-03-02 is Monday (dow)
        tasks = spark.createDataFrame(
            [("t1", "0 0 1 * 1", "UTC", False),
             ("t2", "0 0 1 * 1", "UTC", True)],     # paused → no slots
            TASK_SCHEMA)
        rows = scheduled_run_slots(
            tasks, "2026-03-01T00:00:00", "2026-03-08T00:00:00").collect()
        assert sorted((r["task_uuid"], r["scheduled_for"]) for r in rows) == [
            ("t1", "2026-03-01T00:00:00.000Z"),
            ("t1", "2026-03-02T00:00:00.000Z")]


class TestRetrySchedule:
    """Webhook delivery retry ladder (Webhook.ts:284-345)."""

    def test_ladder_states(self, spark):
        from anycrawl_spark.webhooks import ATTEMPT_SCHEMA, retry_schedule

        t0 = 1700000000

        def ts(epoch):
            from datetime import datetime, timezone
            return datetime.fromtimestamp(epoch, tz=timezone.utc).replace(
                tzinfo=None)

        attempts = spark.createDataFrame([
            # d1: fail@1 then success@2 → delivered at attempt 2
            (1, 1, ts(t0), False, 3, None),
            (1, 2, ts(t0 + 600), True, 3, None),
            # d2: fail@1 of 3 → retrying, attempt 2, backoff 2^1 min (mult||2)
            (2, 1, ts(t0), False, 3, None),
            # d3: fail@2 of 2 → terminal failed
            (3, 1, ts(t0), False, 2, 2),
            (3, 2, ts(t0 + 120), False, 2, 2),
            # d4: fail@2 of 4, mult 5 → retrying, next = at + 5^2 min
            (4, 1, ts(t0), False, 4, 5),
            (4, 2, ts(t0 + 60), False, 4, 5),
        ], ATTEMPT_SCHEMA)
        rows = {r["delivery_id"]: r for r in retry_schedule(attempts).collect()}
        assert (rows[1]["status"], rows[1]["attempt_number"],
                rows[1]["next_retry_epoch"]) == ("delivered", 2, None)
        assert (rows[2]["status"], rows[2]["attempt_number"],
                rows[2]["next_retry_epoch"]) == ("retrying", 2, t0 + 120)
        assert (rows[3]["status"], rows[3]["attempt_number"],
                rows[3]["next_retry_epoch"]) == ("failed", 2, None)
        assert (rows[4]["status"], rows[4]["attempt_number"],
                rows[4]["next_retry_epoch"]) == ("retrying", 3,
                                                 t0 + 60 + 25 * 60)


class TestBilling:
    """A10 credit rollup (credits.ts + Progress.ts deduction gates)."""

    def test_gates_costs_and_idempotency(self, spark):
        from anycrawl_spark.billing import PAGE_EVENT_SCHEMA, credit_rollup

        ev = spark.createDataFrame([
            # j1: page 1 success (skipped — initial fee), page 2 base,
            # page 3 stealth+json(html x2)+summary, page 4 failed (skip),
            # page 5 over limit=4 (skip), page 2 replayed (dedup)
            ("j1", 1, True, 4, "base", False, None, ["markdown"]),
            ("j1", 2, True, 4, "base", False, None, ["markdown"]),
            ("j1", 3, True, 4, "stealth", True, "html",
             ["markdown", "json", "summary"]),
            ("j1", 4, False, 4, "base", False, None, ["markdown"]),
            ("j1", 5, True, 4, "base", False, None, ["markdown"]),
            ("j1", 2, True, 4, "base", False, None, ["markdown"]),
            # j2: no limit, json without 'json' in formats → no json charge
            ("j2", 2, True, None, "base", True, None, ["markdown"]),
        ], PAGE_EVENT_SCHEMA)
        rows = {r["job_id"]: r for r in
                credit_rollup(ev, json_credits=1, summary_credits=1).collect()}
        j1 = rows["j1"]
        # charged pages: 2 (cost 1) and 3 (1 + 2 stealth + 2 json-html + 1
        # summary = 6); seen 5 after dedup
        assert (j1["pages_charged"], j1["credits_used"],
                j1["pages_seen"], j1["pages_skipped"]) == (2, 7, 5, 3)
        assert (rows["j2"]["pages_charged"],
                rows["j2"]["credits_used"]) == (1, 1)

    def test_default_env_credits(self, spark):
        # with reference env defaults (json=0, summary=0) only base+stealth
        # bite — normalizeChargeItem drops zero items (credits.ts:62-79)
        from anycrawl_spark.billing import PAGE_EVENT_SCHEMA, credit_rollup

        ev = spark.createDataFrame([
            ("j", 2, True, None, "stealth", True, "html",
             ["markdown", "json", "summary"]),
        ], PAGE_EVENT_SCHEMA)
        row = credit_rollup(ev).collect()[0]
        assert row["credits_used"] == 3     # 1 base + 2 stealth


class TestWebhooks:
    """S10 webhook pipeline (Webhook.ts parity): subscription matching,
    delivery records, and the HMAC delivery signature."""

    def _subs(self, spark):
        from anycrawl_spark.webhooks import SUBSCRIPTION_SCHEMA

        return spark.createDataFrame([
            (1, "https://h.test/1", "secret-1", True,
             ["crawl.completed"], "all", ["job-x"], None),
            (2, "https://h.test/2", "secret-2", True,
             ["crawl.completed", "crawl.failed"], "specific", ["job-a"], 5),
            (3, "https://h.test/3", "secret-3", False,          # inactive
             ["crawl.completed"], "all", None, None),
            (4, "https://h.test/4", "secret-4", True,
             ["scrape.completed"], "all", None, None),          # wrong event
            # scope='specific' but NULL task ids: Webhook.ts:110-116 only
            # applies the scope filter when specificTaskIds is set, so this
            # sub still delivers; maxRetries||3 maps its 0 to 3
            (5, "https://h.test/5", "secret-5", True,
             ["crawl.completed"], "specific", None, 0),
        ], SUBSCRIPTION_SCHEMA)

    def test_matching_scope_and_activity(self, spark):
        from anycrawl_spark.webhooks import EVENT_SCHEMA, match_deliveries

        events = spark.createDataFrame([
            (10, "crawl.completed", "crawl", "job-a", '{"id":10}'),
            (11, "crawl.completed", "crawl", "job-b", '{"id":11}'),
        ], EVENT_SCHEMA)
        rows = {(r["event_id"], r["sub_id"]): r
                for r in match_deliveries(events, self._subs(spark)).collect()}
        # sub 1 (scope all) matches both; sub 2 (specific job-a) only job-a;
        # sub 3 inactive, sub 4 wrong event type -> absent; sub 5
        # (specific + NULL task ids) matches both per Webhook.ts:110-116
        assert set(rows) == {(10, 1), (11, 1), (10, 2), (10, 5), (11, 5)}
        r = rows[(10, 2)]
        assert r["status"] == "pending" and r["attempt_number"] == 1
        assert r["max_attempts"] == 5                      # sub override
        assert rows[(10, 1)]["max_attempts"] == 3          # default || 3
        assert rows[(10, 5)]["max_attempts"] == 3          # 0 is falsy -> 3
        assert r["request_method"] == "POST"
        assert r["request_url"] == "https://h.test/2"

    def test_signature_known_answer(self, spark):
        import hashlib
        import hmac as hmac_mod

        from anycrawl_spark.webhooks import EVENT_SCHEMA, match_deliveries, sign_deliveries

        events = spark.createDataFrame(
            [(10, "crawl.completed", "crawl", "job-a", '{"job_id":"job-a","status":"completed"}')],
            EVENT_SCHEMA)
        out = sign_deliveries(match_deliveries(events, self._subs(spark)))
        rows = {r["sub_id"]: r for r in out.collect()}
        # generateSignature parity: sha256=<hex hmac_sha256(secret, body)>
        expect = "sha256=" + hmac_mod.new(
            b"secret-1", b'{"job_id":"job-a","status":"completed"}',
            hashlib.sha256).hexdigest()
        assert rows[1]["signature"] == expect
        assert "webhook_secret" not in out.columns          # never leaves signer

    def test_job_lifecycle_events(self, spark):
        import json

        from anycrawl_spark.webhooks import job_events_from_summary

        summary = {"job_id": "j1", "done": 40, "fetched": 35, "failed": 5}
        ev = job_events_from_summary(spark, summary, "https://s.test/")
        rows = [r.asDict() for r in ev.orderBy("event_id").collect()]
        assert [r["event_type"] for r in rows] == [
            "crawl.created", "crawl.started", "crawl.completed"]
        body = json.loads(rows[2]["payload"])
        assert (body["total"], body["completed"], body["failed"]) == (40, 35, 5)
        # JobEventPayload field order is stable (signature reproducibility)
        assert list(body) == ["job_id", "status", "url", "total",
                              "completed", "failed", "created_at"]
        cancelled = job_events_from_summary(
            spark, {**summary, "cancelled": True}, "https://s.test/")
        assert cancelled.orderBy("event_id").collect()[2]["event_type"] == "crawl.cancelled"


class TestCodecProperties:
    """Property-based hardening of the media codecs: every encoder's output
    must decode back to exactly the parameters it was built with, across
    the full parameter ranges the synthesizer can emit, and the decoder
    must never raise on arbitrary byte prefixes."""

    def test_image_roundtrip_properties(self):
        from hypothesis import given, settings, strategies as st

        from anycrawl_spark.operators.media_codec import (
            decode_media_bytes, make_bmp, make_gif, make_jpeg, make_png,
            make_webp)

        @settings(max_examples=150, deadline=None)
        @given(st.integers(1, 16383), st.integers(1, 16383),
               st.sampled_from(["png", "gif", "jpeg", "bmp",
                                "webp:vp8", "webp:vp8l", "webp:vp8x"]))
        def check(w, h, fmt):
            if fmt in ("gif", "jpeg") and (w > 65535 or h > 65535):
                return
            if fmt == "gif":
                payload, name = make_gif(w & 0xFFFF, h & 0xFFFF), "gif"
                w2, h2 = w & 0xFFFF, h & 0xFFFF
            elif fmt == "png":
                payload, name, w2, h2 = make_png(w, h), "png", w, h
            elif fmt == "jpeg":
                payload, name, w2, h2 = make_jpeg(w, h), "jpeg", w, h
            elif fmt == "bmp":
                payload, name, w2, h2 = make_bmp(w, h), "bmp", w, h
            else:
                payload = make_webp(w, h, fmt.split(":")[1])
                name, w2, h2 = "webp", w, h
            d = decode_media_bytes(payload)
            assert (d["format"], d["width"], d["height"]) == (name, w2, h2)

        check()

    def test_audio_video_roundtrip_properties(self):
        from hypothesis import given, settings, strategies as st

        from anycrawl_spark.operators.media_codec import (
            decode_media_bytes, make_mp3, make_mp4, make_wav)

        @settings(max_examples=100, deadline=None)
        @given(st.sampled_from([8000, 16000, 22050, 44100, 48000]),
               st.integers(1, 50_000))
        def check_wav(sr, n):
            d = decode_media_bytes(make_wav(sr, n))
            assert d["format"] == "wav" and d["sample_rate"] == sr
            assert d["duration_ms"] == (2 * n) * 1000 // (sr * 2)

        @settings(max_examples=60, deadline=None)
        @given(st.sampled_from([32000, 44100, 48000]), st.integers(1, 40),
               st.booleans())
        def check_mp3(sr, frames, id3):
            d = decode_media_bytes(make_mp3(sr, frames, with_id3=id3))
            assert d["format"] == "mp3" and d["sample_rate"] == sr
            assert d["duration_ms"] == frames * 1152 * 1000 // sr

        @settings(max_examples=60, deadline=None)
        @given(st.integers(1, 4096), st.integers(1, 4096),
               st.integers(0, 10_000_000), st.integers(1, 90_000))
        def check_mp4(w, h, dur, ts):
            d = decode_media_bytes(make_mp4(w, h, dur, timescale=ts))
            assert (d["format"], d["width"], d["height"]) == ("mp4", w, h)
            assert d["duration_ms"] == dur * 1000 // ts

        check_wav()
        check_mp3()
        check_mp4()

    def test_decoder_total_on_arbitrary_prefixes(self):
        from hypothesis import given, settings, strategies as st

        from anycrawl_spark.operators.media_codec import (
            decode_media_bytes, make_mp4, make_png, make_webp)

        samples = [make_png(9, 9), make_webp(9, 9, "vp8l"), make_mp4(9, 9, 60)]

        @settings(max_examples=200, deadline=None)
        @given(st.integers(0, 2), st.integers(0, 60), st.binary(max_size=24))
        def check(i, cut, garbage):
            # truncated real container + garbage tail: decode must return a
            # dict, never raise (the Arrow batch must survive any payload)
            out = decode_media_bytes(samples[i][:cut] + garbage)
            assert set(out) == {"format", "width", "height", "duration_ms",
                                "sample_rate"}

        check()


class TestMonitorWebhookIntegration:
    """M-family → S10 composition (MonitorPostProcessor.ts:322-352): LCS
    snapshot diffs become monitor.changed / monitor.price.changed events
    whose payload carries the diff inline, then flow through the same
    subscription-match + signing pipeline as job events."""

    def test_changes_to_signed_deliveries(self, spark):
        import json

        from anycrawl_spark.monitor import snapshot_changes
        from anycrawl_spark.webhooks import (
            SUBSCRIPTION_SCHEMA, match_deliveries, monitor_events,
            sign_deliveries)

        snaps = spark.createDataFrame(
            [(1, "https://m.test/a", "line1\nline2", "2026-01-01T00:00:00"),
             (1, "https://m.test/a", "line1\nline2b", "2026-01-02T00:00:00"),
             (1, "https://m.test/b", "same", "2026-01-01T00:00:00"),
             (1, "https://m.test/b", "same", "2026-01-02T00:00:00")],
            schema="monitor_id long, url string, content string, captured_at string")
        changes = (snapshot_changes(snaps)
                   .withColumn("change_type", F.lit("content"))
                   .withColumn("diff_text",
                               F.concat(F.lit("+"), F.col("lines_added").cast("string"),
                                        F.lit("/-"), F.col("lines_removed").cast("string"))))
        monitors = spark.createDataFrame(
            [(1, "price watch", "content")],
            schema="monitor_id long, monitor_name string, monitor_type string")
        events = monitor_events(changes, monitors)
        ev = events.collect()
        assert len(ev) == 1 and ev[0]["event_type"] == "monitor.changed"
        body = json.loads(ev[0]["payload"])
        # MonitorEventPayload field order (signature reproducibility)
        assert list(body) == ["monitor_id", "monitor_name", "monitor_type",
                              "url", "change_type", "diff_text", "captured_at"]
        assert body["url"] == "https://m.test/a"

        subs = spark.createDataFrame(
            [(1, "https://h.test/m", "sec", True,
              ["monitor.changed", "monitor.price.changed"], "all", None, None)],
            SUBSCRIPTION_SCHEMA)
        out = sign_deliveries(match_deliveries(events, subs)).collect()
        assert len(out) == 1
        assert out[0]["signature"].startswith("sha256=")
        assert out[0]["event_source"] == "monitor"

    def test_price_change_event_type(self, spark):
        from anycrawl_spark.webhooks import monitor_events

        changes = spark.createDataFrame(
            [(1, "https://m.test/p", "price_up", "-", "2026-01-02")],
            schema="monitor_id long, url string, change_type string, "
                   "diff_text string, captured_at string")
        monitors = spark.createDataFrame(
            [(1, "m", "price")],
            schema="monitor_id long, monitor_name string, monitor_type string")
        rows = monitor_events(changes, monitors).collect()
        assert rows[0]["event_type"] == "monitor.price.changed"


class TestChangeJudge:
    """M6 — monitor/judge.ts parity: prompt assembly, verdict validation,
    degraded-mode fallback."""

    def test_prompt_assembly_and_truncation(self):
        from anycrawl_spark.monitor import build_judge_prompt

        p = build_judge_prompt("price drops", "+new\n-old", "https://a.test/x")
        assert p.startswith('Monitoring goal: "price drops"\n\n'
                            "URL: https://a.test/x\n\n")
        assert p.endswith("Is this change meaningful relative to the goal?")
        long = build_judge_prompt("g", "d" * 10_000, "u")
        assert "d" * 3000 in long and "d" * 3001 not in long

    def test_valid_verdict_passthrough(self):
        from anycrawl_spark.monitor import JUDGE_SYSTEM_PROMPT, judge_change

        seen = {}

        def model(system, prompt):
            seen["system"] = system
            return {"meaningful": False, "confidence": "high",
                    "reason": "only a session token rotated"}

        v = judge_change("goal", "diff", "url", model_call=model)
        assert v == {"meaningful": False, "confidence": "high",
                     "reason": "only a session token rotated"}
        assert seen["system"] == JUDGE_SYSTEM_PROMPT

    def test_degraded_modes_fall_back(self):
        from anycrawl_spark.monitor import JUDGE_FALLBACK, judge_change

        assert judge_change("g", "d", "u") == JUDGE_FALLBACK  # no provider

        def boom(system, prompt):
            raise RuntimeError("provider down")

        assert judge_change("g", "d", "u", model_call=boom) == JUDGE_FALLBACK
        # out-of-schema verdicts degrade too (confidence enum, bool type)
        for bad in ({"meaningful": "yes", "confidence": "high", "reason": ""},
                    {"meaningful": True, "confidence": "certain", "reason": ""},
                    {"meaningful": True, "confidence": "low"},
                    "MEANINGFUL", None):
            assert judge_change(
                "g", "d", "u", model_call=lambda s, p, b=bad: b) == JUDGE_FALLBACK

    def test_judge_udf(self, spark):
        """Batch judging over the default seam: every changed snapshot of a
        goal-carrying monitor gets the degraded fallback verdict."""
        import json

        from anycrawl_spark.monitor import monitor_post_process

        results = spark.createDataFrame(
            [("m1", "https://a.test/1", "price: 8", None),
             ("m1", "https://a.test/2", "new body", None)],
            "monitor_id string, url string, content string, "
            "extracted string")
        monitors = spark.createDataFrame(
            [("m1", "track price changes", "text", False, None)],
            "monitor_id string, goal string, track_mode string, "
            "only_meaningful boolean, price_change_pct double")
        prevs = spark.createDataFrame(
            [("m1", "https://a.test/1", "h1", "price: 10", None),
             ("m1", "https://a.test/2", "h2", "old body", None)],
            "monitor_id string, url string, content_hash string, "
            "content string, extracted string")
        rows = monitor_post_process(results, monitors, prevs).collect()
        assert len(rows) == 2
        for r in rows:
            verdict = json.loads(r["judgment"])
            assert verdict["meaningful"] is True
            assert verdict["confidence"] == "low"


class TestSchedulerSweep:
    """Scheduler.ts crash-recovery sweep + subscription-limit auto-pause
    (r5): hand-built frames pinning the per-case routing the big oracle
    query exercises statistically."""

    NOW = "2024-06-01 12:00:00"

    def _sweep(self, spark, ex_rows, task_rows=(), job_rows=()):
        from anycrawl_spark.scheduler import stale_executions

        ex = spark.createDataFrame(
            list(ex_rows),
            "execution_uuid string, scheduled_task_uuid string, "
            "job_uuid string, status string, created_at timestamp, "
            "started_at timestamp")
        tasks = spark.createDataFrame(
            list(task_rows) or [("t-none", "scrape")],
            "task_uuid string, task_type string")
        jobs = spark.createDataFrame(
            list(job_rows) or [("j-none", "scrape", None)],
            "job_uuid string, job_type string, updated_at timestamp")
        return {r["execution_uuid"]: r.asDict()
                for r in stale_executions(ex, tasks, jobs, self.NOW).collect()}

    def test_pending_and_no_start_cases(self, spark):
        import datetime as dt

        old = dt.datetime(2024, 6, 1, 11, 0)     # 60 min before NOW
        fresh = dt.datetime(2024, 6, 1, 11, 58)  # 2 min before NOW
        got = self._sweep(spark, [
            ("e1", "t", None, "pending", old, None),     # pending_timeout
            ("e2", "t", None, "pending", fresh, None),   # too fresh
            ("e3", "t", None, "pending", fresh, old),    # started, stuck
            ("e4", "t", None, "running", old, None),     # never started
            ("e5", "t", None, "running", dt.datetime(2024, 6, 1, 11, 55),
             None),                                      # < 10 min
        ])
        assert got["e1"]["error_code"] == "STALE_PENDING_TIMEOUT"
        assert "e2" not in got
        assert got["e3"]["error_code"] == "STALE_PENDING_STARTED"
        assert got["e3"]["reason"] == "pending_started_timeout"
        assert got["e4"]["error_code"] == "RUNNING_NO_START_TIMEOUT"
        assert got["e4"]["threshold_minutes"] == 10
        assert "e5" not in got

    def test_running_type_thresholds_and_template_resolution(self, spark):
        import datetime as dt

        t45 = dt.datetime(2024, 6, 1, 11, 15)   # running 45 min
        t90 = dt.datetime(2024, 6, 1, 10, 30)   # running 90 min
        created = dt.datetime(2024, 6, 1, 8, 0)
        tasks = [("t-scrape", "scrape"), ("t-search", "SEARCH"),
                 ("t-map", "map"), ("t-tmpl", "template"),
                 ("t-null", None), ("t-empty", "")]
        jobs = [("j-map", "Map", None)]
        got = self._sweep(spark, [
            # scrape: 30-min threshold — 45 min trips it
            ("s45", "t-scrape", None, "running", created, t45),
            # search (JS toLowerCase): 60-min — 45 min does NOT
            ("q45", "t-search", None, "running", created, t45),
            ("q90", "t-search", None, "running", created, t90),
            # template resolves to the job's type (map -> 30 min)
            ("tm45", "t-tmpl", "j-map", "running", created, t45),
            # NULL / '' task types default to scrape
            ("n45", "t-null", None, "running", created, t45),
            ("z45", "t-empty", None, "running", created, t45),
            # unknown task id: inner join drops it (reference joins tasks)
            ("orphan", "t-gone", None, "running", created, t90),
        ], tasks, jobs)
        assert got["s45"]["reason"] == "scrape_timeout"
        assert "q45" not in got
        assert got["q90"]["reason"] == "search_timeout"
        assert got["q90"]["threshold_minutes"] == 60
        assert got["tm45"]["reason"] == "map_timeout"
        assert got["tm45"]["actual_task_type"] == "map"
        assert got["n45"]["reason"] == "scrape_timeout"
        assert got["z45"]["reason"] == "scrape_timeout"
        assert "orphan" not in got

    def test_crawl_activity_rule(self, spark):
        import datetime as dt

        created = dt.datetime(2024, 6, 1, 8, 0)
        t90 = dt.datetime(2024, 6, 1, 10, 30)
        active_job = dt.datetime(2024, 6, 1, 11, 30)   # 30 min ago
        stale_job = dt.datetime(2024, 6, 1, 10, 0)     # 120 min ago
        tasks = [("t-crawl", "crawl")]
        jobs = [("j-live", "crawl", active_job),
                ("j-dead", "crawl", stale_job),
                ("j-noup", "crawl", None)]
        got = self._sweep(spark, [
            # recent job activity shields a long-running crawl
            ("live", "t-crawl", "j-live", "running", created, t90),
            ("dead", "t-crawl", "j-dead", "running", created, t90),
            # no updatedAt -> falls back to running time
            ("noup", "t-crawl", "j-noup", "running", created, t90),
            ("nojob", "t-crawl", None, "running", created, t90),
        ], tasks, jobs)
        assert "live" not in got
        assert got["dead"]["reason"] == "crawl_inactivity"
        assert got["noup"]["reason"] == "crawl_no_activity"
        assert got["nojob"]["reason"] == "crawl_no_activity"
        assert all(v["threshold_minutes"] == 60 for k, v in got.items())

    def test_subscription_excess(self, spark):
        import datetime as dt

        from anycrawl_spark.scheduler import subscription_excess_tasks

        t0 = dt.datetime(2024, 1, 1)

        def task(i, user, key, active=True, paused=False):
            return (f"task-{i}", f"name-{i}", user, key, active, paused,
                    t0 + dt.timedelta(minutes=i))

        tasks = spark.createDataFrame(
            [task(1, "u1", "k-free"), task(2, "u1", "k-free"),
             task(3, "u1", "k-free", paused=True),      # excluded
             task(4, "u2", "k-paid"), task(5, "u2", "k-paid"),
             task(6, "u2", "k-paid"),
             task(7, "u3", "k-FREE"),                   # tier not lowercased
             task(8, "u3", "k-FREE"), task(9, "u3", "k-FREE"),
             task(10, "u4", "k-null"), task(11, "u4", "k-null")],
            "task_uuid string, name string, user_id string, api_key string, "
            "is_active boolean, is_paused boolean, created_at timestamp")
        keys = spark.createDataFrame(
            [("k-free", "free"), ("k-paid", "paid"), ("k-FREE", "Free"),
             ("k-null", None)],
            "key_uuid string, subscription_tier string")
        got = {r["task_uuid"]: r["pause_reason"]
               for r in subscription_excess_tasks(
                   tasks, keys, limit_free=1, limit_paid=2).collect()}
        # u1 free(limit 1): task-2 paused, paused task-3 not counted
        # u2 paid(limit 2): task-6 paused (keep oldest two)
        # u3 'Free' != 'free' -> paid limit 2: task-9 paused
        # u4 NULL tier -> free: task-11 paused
        assert set(got) == {"task-2", "task-6", "task-9", "task-11"}
        assert got["task-2"] == ("Auto-paused: Subscription limit exceeded "
                                 "(limit: 1)")
        assert got["task-9"].endswith("(limit: 2)")


class TestChargeDetails:
    """credits.ts CreditCalculator itemization — the calculators the
    billing_charge_details oracle doesn't cover (crawl_page_v1 has no
    template item; map_v1; unconfigured-stealth downgrade)."""

    def test_crawl_page_has_no_template_item(self, spark):
        from anycrawl_spark.billing import charge_details

        opts = spark.createDataFrame(
            [("j1", 7, "stealth", True, ["json"], "html")],
            "job_id string, template_credits int, proxy string, "
            "has_json boolean, formats array<string>, extract_source string")
        rows = charge_details(opts, "crawl_page_v1", stealth_credits=2,
                              json_credits=5).collect()
        got = {r["item_code"]: r["item_credits"] for r in rows}
        # template_credits ignored; json doubled on html source
        assert got == {"crawl_page_success": 1, "proxy_stealth": 2,
                       "json_llm_extract": 10}
        assert all(r["job_total"] == 13 for r in rows)

    def test_map_and_unconfigured_stealth(self, spark):
        from anycrawl_spark.billing import charge_details

        mopts = spark.createDataFrame([("m1", 4), ("m2", 0)],
                                      "job_id string, template_credits int")
        got = {(r["job_id"], r["item_code"]): r["item_credits"]
               for r in charge_details(mopts, "map_v1").collect()}
        assert got == {("m1", "template_per_call"): 4, ("m1", "base_map"): 1,
                       ("m2", "base_map"): 1}

        sopts = spark.createDataFrame(
            [("s1", None, "stealth", False, ["markdown"], None)],
            "job_id string, template_credits int, proxy string, "
            "has_json boolean, formats array<string>, extract_source string")
        # no stealth proxy URLs configured -> resolved mode is base
        rows = charge_details(sopts, "scrape_v1", stealth_configured=False
                              ).collect()
        assert {r["item_code"] for r in rows} == {"base_scrape"}

    def test_unknown_calculator_rejected(self, spark):
        import pytest as _pytest

        from anycrawl_spark.billing import charge_details

        df = spark.createDataFrame([("x", 1)],
                                   "job_id string, template_credits int")
        with _pytest.raises(ValueError, match="unknown calculator"):
            charge_details(df, "scrape_v2")


class TestMonitorPostProcess:
    """M7 — MonitorPostProcessor.ts:147-309 state machine: new/same/changed,
    truncation-aware hashing, text-recheck and json-noise downgrades, price
    classification, and the AI-judge gate."""

    def _run(self, spark, results, monitors, prevs, judge_call=None,
             max_chars=262_144):
        from anycrawl_spark.monitor import monitor_post_process

        r = spark.createDataFrame(
            results, "monitor_id string, url string, content string, "
                     "extracted string")
        m = spark.createDataFrame(
            monitors, "monitor_id string, goal string, track_mode string, "
                      "only_meaningful boolean, price_change_pct double")
        p = spark.createDataFrame(
            prevs or [("__none__", "u", "h", "c", None)],
            "monitor_id string, url string, content_hash string, "
            "content string, extracted string")
        out = monitor_post_process(r, m, p, judge_call=judge_call,
                                   max_chars=max_chars)
        return {(row["monitor_id"], row["url"]): row.asDict()
                for row in out.collect()}

    def test_status_machine_and_text_diff(self, spark):
        import hashlib

        same_hash = hashlib.sha256(b"old text").hexdigest()
        got = self._run(
            spark,
            [("m1", "u/new", "first", None),
             ("m1", "u/same", "old text", None),
             ("m1", "u/chg", "new text", None)],
            [("m1", None, "text", False, None)],
            [("m1", "u/same", same_hash, "old text", None),
             ("m1", "u/chg", hashlib.sha256(b"old text2").hexdigest(),
              "old text2", None)])
        assert got[("m1", "u/new")]["status"] == "new"
        assert not got[("m1", "u/new")]["emit_change"]
        assert got[("m1", "u/same")]["status"] == "same"
        chg = got[("m1", "u/chg")]
        assert chg["status"] == "changed" and chg["emit_change"]
        assert chg["change_type"] == "content"
        assert "-old text2" in chg["diff_text"]
        assert "+new text" in chg["diff_text"]

    def test_truncation_downgrade(self, spark):
        # full hashes differ, truncated stored forms are identical ->
        # downgraded to same (the :238-244 recheck)
        import hashlib

        prev_full = "A" * 50 + "tail-one"
        cur_full = "A" * 50 + "tail-two"
        prev_stored = prev_full[:50] + "\n…[truncated]"
        got = self._run(
            spark,
            [("m1", "u", cur_full, None)],
            [("m1", None, "text", False, None)],
            [("m1", "u", hashlib.sha256(prev_full.encode()).hexdigest(),
              prev_stored, None)],
            max_chars=50)
        assert got[("m1", "u")]["status"] == "same"
        assert not got[("m1", "u")]["emit_change"]

    def test_json_mode_noise_downgrade_and_price(self, spark):
        import hashlib

        prev_hash = hashlib.sha256(b"body v1").hexdigest()
        got = self._run(
            spark,
            # hash changed but extracted payload identical -> json noise
            [("mj", "u/noise", "body v2", '{"price": 10}'),
             ("mj", "u/drop", "body v3", '{"price": 8}')],
            [("mj", None, "json", False, 5.0)],
            [("mj", "u/noise", prev_hash, "body v1", '{"price": 10}'),
             ("mj", "u/drop", prev_hash, "body v1", '{"price": 10}')])
        assert got[("mj", "u/noise")]["status"] == "same"
        drop = got[("mj", "u/drop")]
        assert drop["emit_change"] and drop["change_type"] == "price_down"
        assert '"path": "price"' in drop["diff_json"] \
            or '"path":"price"' in drop["diff_json"]

    def test_judge_gate(self, spark):
        import hashlib

        prev_hash = hashlib.sha256(b"old").hexdigest()
        results = [("mg", "u", "new content", None)]
        prevs = [("mg", "u", prev_hash, "old", None)]

        def reject(system, prompt):
            return {"meaningful": False, "confidence": "high",
                    "reason": "token rotation"}

        # only_meaningful -> gated (snapshot stays changed, no change emit)
        got = self._run(spark, results,
                        [("mg", "watch prices", "text", True, None)],
                        prevs, judge_call=reject)
        row = got[("mg", "u")]
        assert row["status"] == "changed" and not row["emit_change"]
        assert '"meaningful": false' in row["judgment"].lower()
        # only_meaningful off -> emitted with the judgment attached
        got2 = self._run(spark, results,
                         [("mg", "watch prices", "text", False, None)],
                         prevs, judge_call=reject)
        assert got2[("mg", "u")]["emit_change"]
        # no provider -> degraded fallback verdict, change emitted
        got3 = self._run(spark, results,
                         [("mg", "watch prices", "text", True, None)], prevs)
        assert got3[("mg", "u")]["emit_change"]
        assert "AI judge unavailable" in got3[("mg", "u")]["judgment"]


class TestPostProcessToWebhookE2E:
    """The reference's full monitor flow in one batch dataflow:
    execution results → monitor_post_process (M7 state machine + price
    classification + judge gate) → emit_change rows → monitor events →
    subscription match → signed deliveries (MonitorPostProcessor.ts
    _processResult + _notify → Webhook.ts)."""

    def test_full_chain(self, spark):
        import hashlib
        import json

        from anycrawl_spark.monitor import monitor_post_process
        from anycrawl_spark.webhooks import (
            SUBSCRIPTION_SCHEMA, match_deliveries, monitor_events,
            sign_deliveries)

        prev_hash = hashlib.sha256(b"old body").hexdigest()
        results = spark.createDataFrame(
            [("m1", "https://s.test/p", "new body", '{"price": 8}'),
             ("m1", "https://s.test/same", "old body", None),
             ("m1", "https://s.test/new", "first visit", None)],
            "monitor_id string, url string, content string, extracted string")
        monitors = spark.createDataFrame(
            [("m1", "price watch", "mixed", False, 5.0)],
            "monitor_id string, goal string, track_mode string, "
            "only_meaningful boolean, price_change_pct double")
        prevs = spark.createDataFrame(
            [("m1", "https://s.test/p", prev_hash, "old body",
              '{"price": 10}'),
             ("m1", "https://s.test/same", prev_hash, "old body", None)],
            "monitor_id string, url string, content_hash string, "
            "content string, extracted string")

        processed = monitor_post_process(results, monitors, prevs)
        changes = (processed.where(F.col("emit_change"))
                   .withColumn("captured_at", F.lit("2026-01-02T00:00:00")))
        assert changes.count() == 1      # only the changed URL emits

        mon_dim = spark.createDataFrame(
            [("m1", "price watch", "mixed")],
            "monitor_id string, monitor_name string, monitor_type string")
        events = monitor_events(changes, mon_dim)
        ev = events.collect()
        # price 10 -> 8 is a 20% drop: price_down -> monitor.price.changed
        assert len(ev) == 1
        assert ev[0]["event_type"] == "monitor.price.changed"
        body = json.loads(ev[0]["payload"])
        assert body["change_type"] == "price_down"
        assert "-old body" in body["diff_text"]

        subs = spark.createDataFrame(
            [(1, "https://hook.test/m", "secret", True,
              ["monitor.price.changed"], "all", None, None)],
            SUBSCRIPTION_SCHEMA)
        out = sign_deliveries(match_deliveries(events, subs)).collect()
        assert len(out) == 1 and out[0]["signature"].startswith("sha256=")


class TestSequencePacking:
    """sequence_packing invariants: per-shard placements tile the token
    stream contiguously and every cut sequence except the shard tail is
    exactly full."""

    def test_tiling_and_full_sequences(self, spark):
        from anycrawl_spark.operators.queries import REGISTRY

        rows = (REGISTRY["sequence_packing"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        seq_len = 512
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r)
        assert len(by_shard) == 8
        for shard, docs in by_shard.items():
            docs.sort(key=lambda r: r["doc_id"])
            # contiguous tiling: each doc starts where the previous ended
            pos = 0
            for r in docs:
                assert r["start_offset"] == pos
                assert r["first_seq"] == pos // seq_len
                end = pos + r["n_tokens"]
                assert r["last_seq"] == (end - 1) // seq_len
                assert r["spans"] == r["last_seq"] - r["first_seq"] + 1
                pos = end
            # every sequence before the tail is exactly seq_len tokens:
            # token t of the shard lives in sequence t // seq_len, so
            # coverage per sequence index is full by construction of the
            # tiling; check the derived fill counts explicitly
            total = pos
            fills = [0] * (total // seq_len + 1)
            for r in docs:
                for s in range(r["first_seq"], r["last_seq"] + 1):
                    lo = max(r["start_offset"], s * seq_len)
                    hi = min(r["start_offset"] + r["n_tokens"],
                             (s + 1) * seq_len)
                    fills[s] += hi - lo
            for s, fill in enumerate(fills[:-1]):
                assert fill == seq_len, (shard, s, fill)
            assert fills[-1] == total % seq_len or fills[-1] == seq_len


class TestScreenshotReadyHint:
    """The batch EWMA closed form equals the reference's sequential fold
    (screenshotReady.ts:336-343), through and past the 50-sample cap."""

    def test_batch_matches_sequential_fold(self, spark):
        import math

        from anycrawl_spark.autoengine import (screenshot_ready_fold,
                                               screenshot_ready_hint)
        rows = []
        seqs = {}
        # three domains: short (5), exactly at cap (50), past cap (70)
        for dom, n in (("a", 5), ("b", 50), ("c", 70)):
            for i in range(n):
                rows.append((dom, i, float((i * 37 + hash(dom) % 97) % 900 + 50)))
            seqs[dom] = [r[2] for r in rows if r[0] == dom]
        df = spark.createDataFrame(
            rows, "domain string, seq long, actual_ms double")
        got = {r["domain"]: r for r in screenshot_ready_hint(df).collect()}
        for dom, vals in seqs.items():
            st = None
            for v in vals:
                st = screenshot_ready_fold(st, v)
            assert got[dom]["samples"] == st[1]
            assert math.isclose(got[dom]["avg_ms"], st[0], rel_tol=1e-9), dom
            want_hint = math.ceil(st[0]) if st[0] > 100 else None
            # the batch hint gates on ITS avg; at 1e-9 agreement the
            # ceil can only differ within a hair of an integer boundary
            assert got[dom]["hint_ms"] == want_hint or \
                abs(got[dom]["avg_ms"] - round(got[dom]["avg_ms"])) < 1e-6

    def test_hint_gate_at_100ms(self, spark):
        from anycrawl_spark.autoengine import screenshot_ready_hint
        df = spark.createDataFrame(
            [("lo", 0, 40.0), ("lo", 1, 60.0), ("hi", 0, 400.0)],
            "domain string, seq long, actual_ms double")
        got = {r["domain"]: r["hint_ms"]
               for r in screenshot_ready_hint(df).collect()}
        assert got["lo"] is None
        assert got["hi"] == 400


class TestDedupRepresentatives:
    """Canonical-selection invariants: exactly one keeper per group, the
    keeper maximizes (quality, -doc_id), every drop points at its
    group's keeper."""

    def test_invariants(self, spark):
        from anycrawl_spark.operators.queries import REGISTRY
        rows = (REGISTRY["dedup_representatives"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        by_group = {}
        for r in rows:
            by_group.setdefault(r["group_hash"], []).append(r)
        assert sum(len(v) for v in by_group.values()) == len(rows)
        for gh, docs in by_group.items():
            keepers = [d for d in docs if d["keep"]]
            assert len(keepers) == 1, gh
            k = keepers[0]
            assert all(d["keeper_doc_id"] == k["doc_id"] for d in docs)
            assert all(d["group_size"] == len(docs) for d in docs)
            best = max(docs, key=lambda d: (d["quality"], -d["doc_id"]))
            assert k["doc_id"] == best["doc_id"]


class TestSpanDedup:
    """span_dedup is recomputed exactly by an independent pure-Python
    twin: spans keyed by their raw 4-token window (grouping-equivalent
    to the md5 key), winner = lexicographic min (doc_id, pos)."""

    def test_matches_python_twin(self, spark):
        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        rows = (REGISTRY["span_dedup"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet").to_pydict()
        first_seen = {}
        occs = []  # (doc_id, span_key, is_first)
        for doc_id, text in sorted(zip(tbl["doc_id"], tbl["text"])):
            t = text.split(" ")
            for i in range(len(t) - 3):
                key = tuple(t[i:i + 4])
                occs.append((doc_id, key))
        expected = {}
        for doc_id, key in occs:  # occs already in (doc_id, pos) order
            n_spans, n_lost = expected.get(doc_id, (0, 0))
            lost = key in first_seen
            first_seen.setdefault(key, doc_id)
            expected[doc_id] = (n_spans + 1, n_lost + (1 if lost else 0))
        assert len(rows) == len(expected)
        for r in rows:
            n_spans, n_lost = expected[r["doc_id"]]
            assert (r["n_spans"], r["n_lost"]) == (n_spans, n_lost)
            assert r["keep_bp"] == (n_spans - n_lost) * 10000 // n_spans
        # every distinct span keeps exactly one occurrence globally
        assert (sum(r["n_spans"] for r in rows)
                - sum(r["n_lost"] for r in rows)) == len(first_seen)


class TestBigramSurprisal:
    """bigram_surprisal recomputed by an independent pure-Python twin:
    bigram/context counts from the raw parquet text, surprisal =
    bit_length(c1) - bit_length(c2) per occurrence."""

    def test_matches_python_twin(self, spark):
        from collections import Counter

        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        rows = (REGISTRY["bigram_surprisal"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet").to_pydict()
        docs = {d: t.split(" ") for d, t in zip(tbl["doc_id"], tbl["text"])}
        bc, uc = Counter(), Counter()
        for t in docs.values():
            for a, b in zip(t, t[1:]):
                bc[(a, b)] += 1
                uc[a] += 1
        assert len(rows) == sum(1 for t in docs.values() if len(t) >= 2)
        for r in rows:
            t = docs[r["doc_id"]]
            bits = [uc[a].bit_length() - bc[(a, b)].bit_length()
                    for a, b in zip(t, t[1:])]
            assert r["n_bigrams"] == len(bits)
            assert r["surprisal_bits"] == sum(bits)
            avg = sum(bits) * 1000 // len(bits)
            assert r["avg_mbits"] == avg
            want = ("head" if avg < 4500
                    else "middle" if avg < 4650 else "tail")
            assert r["ppl_bucket"] == want


class TestDomainMixWeights:
    """Mixture weights: group totals recomputed in Python; ppm shares
    floor-round so they sum to at most 1e6 and miss by < n_groups."""

    def test_matches_python_twin(self, spark):
        from collections import Counter

        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        rows = (REGISTRY["domain_mix_weights"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet").to_pydict()
        toks, ndocs = Counter(), Counter()
        for lang, src, text in zip(tbl["lang"], tbl["source"], tbl["text"]):
            toks[(lang, src)] += len(text.split(" "))
            ndocs[(lang, src)] += 1
        total = sum(toks.values())
        assert len(rows) == len(toks)
        for r in rows:
            key = (r["lang"], r["source"])
            assert r["n_docs"] == ndocs[key]
            assert r["n_tokens"] == toks[key]
            w = toks[key] * 1_000_000 // total
            assert r["weight_ppm"] == w
            assert r["smoothed_ppm"] == (w + 1_000_000 // len(toks)) // 2
        s = sum(r["weight_ppm"] for r in rows)
        assert 1_000_000 - len(rows) < s <= 1_000_000


class TestPretrainDataPipeline:
    """The capstone composition recomputed end-to-end by a pure-Python
    twin: quality floor -> exact dedup -> decontamination -> stratified
    sample -> 512-token sequence packing."""

    def test_matches_python_twin(self, spark):
        import hashlib

        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        def md5(s):
            return hashlib.md5(s.encode()).hexdigest()

        rows = (REGISTRY["pretrain_data_pipeline"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet").to_pydict()
        docs = sorted(zip(tbl["doc_id"], tbl["lang"], tbl["text"]))
        # quality floor + exact dedup (first doc_id per fingerprint wins)
        seen_fp, d = set(), []
        for doc_id, lang, text in docs:
            t = text.split(" ")
            if len(t) < 20:
                continue
            fp = md5(text)
            if fp in seen_fp:
                continue
            seen_fp.add(fp)
            d.append((doc_id, lang, t))
        # decontamination vs the doc_id%13 held-out set; bench shingles
        # come from the RAW corpus (pre-floor, pre-dedup) so a verbatim
        # benchmark copy can't leak by out-competing the benchmark doc
        bench_grams = set()
        for doc_id, _, text in docs:
            if doc_id % 13 == 0:
                t = text.split(" ")
                for i in range(len(t) - 3):
                    bench_grams.add(tuple(t[i:i + 4]))
        clean = []
        for doc_id, lang, t in d:
            if doc_id % 13 == 0:
                continue
            if any(tuple(t[i:i + 4]) in bench_grams
                   for i in range(len(t) - 3)):
                continue
            clean.append((doc_id, lang, t))
        # stratified sample (16-bit md5 bucket vs per-lang rate)
        rates = {"en": 49152, "de": 16384}
        keep = [(doc_id, lang, len(t)) for doc_id, lang, t in clean
                if int(md5(f"{doc_id}:sample")[:4], 16)
                < rates.get(lang, 6553)]
        # per-shard packing in doc_id order
        expected = {}
        offsets = {}
        for doc_id, lang, n in keep:  # keep is already doc_id-sorted
            shard = doc_id % 8
            off = offsets.get(shard, 0)
            expected[doc_id] = (lang, shard, n, off, off // 512,
                                (off + n - 1) // 512)
            offsets[shard] = off + n
        assert len(rows) == len(expected)
        for r in rows:
            lang, shard, n, off, first, last = expected[r["doc_id"]]
            assert (r["lang"], r["shard"], r["n_tokens"],
                    r["start_offset"], r["first_seq"], r["last_seq"]) \
                == (lang, shard, n, off, first, last)
        # the pipeline actually filters at every stage on this corpus
        assert 0 < len(rows) < len(docs)


class TestSemanticDedup:
    """SemDeDup recomputed by a pure-Python twin. Dot products use plain
    left-to-right float accumulation — the same fold order as the Spark
    F.aggregate expression — then the 6-dp round both engines apply."""

    def test_matches_python_twin(self, spark):
        import math

        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        def cos(a, b):
            dot = na = nb = 0.0
            for x, y in zip(a, b):
                dot += x * y
                na += x * x
                nb += y * y
            return round(dot / (math.sqrt(na) * math.sqrt(nb)), 6)

        rows = (REGISTRY["semantic_dedup"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/embeddings.parquet").to_pydict()
        vecs = {vid: [float(x) for x in v]
                for vid, v in zip(tbl["vec_id"], tbl["embedding"])}
        meds = {m: vecs[m] for m in vecs if m < 8}
        assign = {}
        for vid, v in vecs.items():
            best = max(sorted(meds), key=lambda m: (cos(v, meds[m]), -m))
            assign[vid] = best
        by_cluster = {}
        for vid in sorted(vecs):
            by_cluster.setdefault(assign[vid], []).append(vid)
        n_dups = {vid: 0 for vid in vecs}
        for members in by_cluster.values():
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    if cos(vecs[a], vecs[b]) >= 0.4:
                        n_dups[b] += 1
        assert len(rows) == len(vecs)
        found_dropped = 0
        for r in rows:
            vid = r["vec_id"]
            assert r["cluster"] == assign[vid]
            assert r["cluster_size"] == len(by_cluster[assign[vid]])
            assert r["n_dups_to_earlier"] == n_dups[vid]
            assert r["dropped"] == (n_dups[vid] > 0)
            found_dropped += r["dropped"]
        # medoids are their own nearest medoid, and some dups exist
        for m in meds:
            assert assign[m] == m
        assert found_dropped > 0

    def test_no_knife_edge_cosines(self):
        """r6 ADVICE guard: the near-dup gate compares a 6-dp-rounded
        cross-engine cosine against 0.4, and DuckDB's
        list_cosine_similarity is not ulp-identical to the Spark fold —
        a corpus pair sitting exactly on the rounding boundary
        (0.3999995) could flip between engines. Assert no same-cluster
        pair's cosine lies within 1e-6 of that boundary on the driver
        corpora, so regenerated test data can't silently introduce the
        knife edge. (ULP-level engine differences are ~1e-15; margin
        1e-6 is ~10^9× that.)"""
        import numpy as np
        import pyarrow.parquet as pq

        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            tbl = pq.read_table(
                f"/root/testdata/{sf}/embeddings.parquet").to_pydict()
            v = np.array([[float(x) for x in e]
                          for e in tbl["embedding"]], dtype=np.float64)
            n = np.linalg.norm(v, axis=1)
            n[n == 0] = 1.0
            u = v / n[:, None]
            # ALL pairs — strictly stronger than the per-cluster subset
            # the query actually compares
            sims = u @ u.T
            iu = np.triu_indices(len(u), k=1)
            worst = float(np.abs(sims[iu] - 0.3999995).min())
            assert worst > 1e-6, (sf, worst)

    def test_medoid_count_parameter(self, spark):
        """K is a real knob: at n_medoids=16 every cluster id is < 16,
        medoids self-assign, and the union of cluster members is the
        whole corpus."""
        from anycrawl_spark.operators.queries import q_semantic_dedup

        rows = q_semantic_dedup(
            spark, "/root/testdata/sf0.001", n_medoids=16).collect()
        assert len(rows) == 500
        by_vid = {r["vec_id"]: r for r in rows}
        assert all(0 <= r["cluster"] < 16 for r in rows)
        for m in range(16):
            assert by_vid[m]["cluster"] == m
        # the knob genuinely re-partitions the space: all 16 clusters
        # are populated (each medoid at least self-assigns), so the
        # largest block must shrink below the K=8 lower bound of 500/8
        assert len({r["cluster"] for r in rows}) == 16
        assert max(r["cluster_size"] for r in rows) < 500


class TestIncrementalDedup:
    """Incremental dedup recomputed by a pure-Python twin: catalog
    fingerprint set + LSH band set from raw text, batch membership."""

    def test_matches_python_twin(self, spark):
        import hashlib
        import re as _re

        import pyarrow.parquet as pq

        from anycrawl_spark.operators.queries import REGISTRY

        def md5(s):
            return hashlib.md5(s.encode()).hexdigest()

        rows = (REGISTRY["incremental_dedup"]
                .fn(spark, "/root/testdata/sf0.001").collect())
        tbl = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet").to_pydict()
        bands = {}
        fps = {}
        for doc_id, text in zip(tbl["doc_id"], tbl["text"]):
            w = _re.findall(r"\S+", text)
            if len(w) < 3:
                continue
            digests = [md5(" ".join(w[i:i + 3]))
                       for i in range(len(w) - 2)]
            sigs = [min(md5(f"{i}:{h}") for h in digests)
                    for i in range(6)]
            bands[doc_id] = (md5("".join(sigs[0:3])),
                             md5("".join(sigs[3:6])))
            fps[doc_id] = md5(text)
        cat_fp = {fps[d] for d in fps if d % 5 != 4}
        cat_bands = {b for d in bands if d % 5 != 4 for b in bands[d]}
        expected = {d: (fps[d] in cat_fp,
                        sum(b in cat_bands for b in bands[d]))
                    for d in fps if d % 5 == 4}
        assert len(rows) == len(expected)
        admitted = 0
        for r in rows:
            exact, hits = expected[r["doc_id"]]
            assert r["exact_dup"] == exact
            assert r["n_band_hits"] == hits
            assert r["near_dup"] == (hits > 0)
            assert r["admitted"] == (not exact and hits == 0)
            admitted += r["admitted"]
        # the batch actually splits: some admitted, some near-dups
        assert 0 < admitted < len(rows)
