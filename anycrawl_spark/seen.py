"""Partitioned Bloom-filter URL-seen set, the hash-slice core shared by both
filter families, and the exact anti-join fallback (SURVEY.md §2.2 F2,
§2.10 item 2; north rule: "URL-seen set is a partitioned Bloom/cuckoo
filter keyed by canonicalized-URL hash").

The reference deduplicates exactly via crawlee RequestQueue uniqueKeys
(``Base.ts:464-493``) — correct but single-node. At 10^10-URL-frontier scale
an exact anti-join of every candidate batch against the full history is a
massive shuffle, so we put a **partitioned Bloom filter in front of it**:

- the hash space of ``sha2(canonical_url, 256)`` is split into
  ``num_buckets`` partitions; each bucket owns an ``m_bits`` bit array;
  segments are just ``(bucket, bitmap)`` rows — Iceberg/parquet friendly;
- candidate filtering tests k positions per candidate inside an Arrow
  batch. Rows the filter rejects are **definitely new** (no false
  negatives) and skip the exact join entirely; only the "maybe seen"
  minority pays the exact anti-join, which guarantees byte-exact
  membership semantics equal to the reference's exact set.

One numpy **hash-slice core** (``hex_nibbles`` + ``hex_slice``) turns a
batch of sha256 hex hashes into shard buckets (``bucket_ids``), Bloom bit
positions (``bloom_bits``) and cuckoo fingerprints/indices
(``cuckoo_fp_i1``). Every Bloom build, both families' probes (bucketized:
one vectorized gather per shard bucket present in the batch) and the
streaming dedup (``streaming/stateful.py``) run on it; ``_positions`` and
``cuckoo._fp_i1`` stay as the scalar references it is tested against.

The crawl engine keeps its filter driver-resident and derived: a round
that probes builds it in numpy from the exact seen set (the 50k enqueue
limit keeps that set small), which is the only seen state it checkpoints,
so the filter has no merge, deletion or persistence path. The
distributed ``applyInPandas`` build plus the broadcast-join probe serve
the registry leaves (``bloom_seen_filter``, ``cuckoo_seen_filter``).

Bit positions are derived from independent 32-bit slices of the sha256 hex,
so membership is a pure function of the canonical URL — deterministic across
cluster sizes and resumes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

SEGMENT_SCHEMA = "bucket int, bitmap binary"

DEFAULT_NUM_BUCKETS = 32
DEFAULT_M_BITS = 1 << 17  # 16 KiB per bucket; override per deployment scale
DEFAULT_K = 4


def bucket_col(url_hash_col: str, num_buckets: int = DEFAULT_NUM_BUCKETS):
    """Bucket id from the first 8 hex chars of the sha256 url hash (JVM-side)."""
    return F.pmod(
        F.conv(F.substring(F.col(url_hash_col), 1, 8), 16, 10).cast("long"),
        F.lit(num_buckets),
    ).cast("int")


def _positions(hash_hex: str, m_bits: int, k: int) -> list[int]:
    # slices [9:17), [17:25), ... of the 64-char sha256 hex → k independent
    # 32-bit values (slice [0:8) is reserved for the bucket id)
    return [int(hash_hex[9 + 8 * i: 17 + 8 * i], 16) % m_bits for i in range(k)]


# -- hash-slice core ---------------------------------------------------------

_HEX_LEN = 64
_HEX_VALUE = np.full(128, 255, dtype=np.uint8)   # ASCII -> nibble, 255 = bad
_HEX_VALUE[np.frombuffer(b"0123456789", np.uint8)] = np.arange(10)
_HEX_VALUE[np.frombuffer(b"abcdef", np.uint8)] = np.arange(10, 16)
_HEX_VALUE[np.frombuffer(b"ABCDEF", np.uint8)] = np.arange(10, 16)


def hex_nibbles(hashes) -> np.ndarray:
    """``(n, 64)`` uint8 nibble matrix of a batch of sha256 hex strings.
    Raises ValueError on a length other than 64 or a non-hex character (a
    shorter string pads with NUL, which is not hex)."""
    codes = np.ascontiguousarray(np.asarray(hashes, dtype=str).reshape(-1))
    if codes.size == 0:
        return np.zeros((0, _HEX_LEN), dtype=np.uint8)
    if codes.dtype.itemsize != 4 * _HEX_LEN:
        raise ValueError(f"url hashes must be {_HEX_LEN} hex chars")
    points = codes.view(np.uint32).reshape(len(codes), _HEX_LEN)
    # code points >= 128 clamp to DEL (0x7f), which is not hex
    nib = _HEX_VALUE[np.minimum(points, 127)]
    if (nib == 255).any():
        raise ValueError("url hashes must be hex strings")
    return nib


def hex_slice(nib: np.ndarray, start: int, width: int) -> np.ndarray:
    """``int(h[start:start + width], 16)`` for every row, as int64 (Python
    slice semantics: clipped at the end, an empty slice raises)."""
    stop = min(start + width, nib.shape[1])
    if stop <= start:
        raise ValueError(f"hash slice [{start}:{start + width}) is empty")
    out = np.zeros(len(nib), dtype=np.int64)
    for j in range(start, stop):
        out = (out << 4) | nib[:, j]
    return out


def bucket_ids(nib: np.ndarray, num_buckets: int) -> np.ndarray:
    """Shard bucket per row — the numpy twin of bucket_col."""
    return hex_slice(nib, 0, 8) % num_buckets


def bloom_bits(nib: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """``(n, k)`` Bloom bit positions per row (same slices as _positions)."""
    return np.stack([hex_slice(nib, 9 + 8 * i, 8) % m_bits
                     for i in range(k)], axis=1)


def cuckoo_fp_i1(nib: np.ndarray, n_slots: int
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Cuckoo ``(fingerprint, primary index)`` per row (cuckoo._fp_i1)."""
    fp = hex_slice(nib, 9, 4)
    fp[fp == 0] = 1
    return fp, hex_slice(nib, 17, 8) & (n_slots - 1)


def bucket_groups(buckets: np.ndarray):
    """``(bucket, row indices)`` for each distinct bucket id of a batch —
    the unit both families' builds and probes vectorize over."""
    order = np.argsort(buckets, kind="stable")
    ids, starts = np.unique(buckets[order], return_index=True)
    return zip(ids.tolist(), np.split(order, starts[1:]))


def _bloom_bitmap(pos: np.ndarray, m_bits: int) -> bytes:
    bits = np.zeros(m_bits, dtype=bool)
    bits[pos.ravel()] = True
    return np.packbits(bits, bitorder="little").tobytes()


def bloom_probe(hashes, segments: dict[int, bytes], num_buckets: int,
                m_bits: int, k: int) -> np.ndarray:
    """Maybe-seen mask of a hash batch: all k bits set in its bucket's
    bitmap (a bucket with no segment is definitely new)."""
    nib = hex_nibbles(hashes)
    pos = bloom_bits(nib, m_bits, k)
    maybe = np.zeros(len(nib), dtype=bool)
    for b, rows in bucket_groups(bucket_ids(nib, num_buckets)):
        blob = segments.get(b)
        if blob is None:
            continue
        bitmap = np.frombuffer(blob, dtype=np.uint8)
        p = pos[rows]
        maybe[rows] = ((bitmap[p >> 3] >> (p & 7)) & 1).all(axis=1)
    return maybe


# -- Bloom family ------------------------------------------------------------

def build_segments(df: DataFrame, url_hash_col: str = "url_hash",
                   num_buckets: int = DEFAULT_NUM_BUCKETS,
                   m_bits: int = DEFAULT_M_BITS,
                   k: int = DEFAULT_K) -> DataFrame:
    """Build (bucket, bitmap) segment rows from a DataFrame of url hashes."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pos = bloom_bits(hex_nibbles(pdf[url_hash_col]), m_bits, k)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                             "bitmap": [_bloom_bitmap(pos, m_bits)]})

    return (
        df.select(url_hash_col)
        .withColumn("bucket", bucket_col(url_hash_col, num_buckets))
        .groupBy("bucket")
        .applyInPandas(build, schema=SEGMENT_SCHEMA)
    )


def build_segments_driver(hashes, num_buckets: int = DEFAULT_NUM_BUCKETS,
                          m_bits: int = DEFAULT_M_BITS,
                          k: int = DEFAULT_K) -> dict[int, bytes]:
    """Driver-side build_segments over an already-collected hash list —
    byte-identical bitmaps (same core), no Spark job."""
    nib = hex_nibbles(hashes)
    pos = bloom_bits(nib, m_bits, k)
    return {b: _bloom_bitmap(pos[rows], m_bits)
            for b, rows in bucket_groups(bucket_ids(nib, num_buckets))}


class SeenFilterFamily:
    """Uniform facade over the two seen-filter families (north rule:
    "partitioned Bloom/cuckoo filter"). Both share the segment-row shape
    ``(bucket int, bitmap binary)``, the sha256 hash-space sharding, and the
    pre-filter + exact-anti-join contract, so the crawl engine is family-
    agnostic: it builds the filter from the exact seen set
    (``build_driver``) and probes it (``filter_new``) through these
    callables. Crawl results are byte-identical across families — the
    filter only routes candidates between the definitely-new fast path and
    the exact anti-join (tests/test_cuckoo.py crawl-parity test)."""

    def __init__(self, name, geometry, build_driver, filter_new):
        self.name = name
        self.geometry = geometry           # bound geometry (JSON list)
        self.build_driver = build_driver
        self.filter_new = filter_new


def filter_family(name: str = "bloom", *,
                  num_buckets: int = DEFAULT_NUM_BUCKETS,
                  m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K,
                  n_slots: int | None = None) -> SeenFilterFamily:
    """Bind a filter family's geometry into the engine-facing callables.
    ``m_bits``/``k`` parameterize bloom; ``n_slots`` parameterizes cuckoo
    (default cuckoo.DEFAULT_N_SLOTS)."""
    if name == "bloom":
        return SeenFilterFamily(
            "bloom",
            [num_buckets, m_bits, k],
            lambda hashes: build_segments_driver(
                hashes, num_buckets=num_buckets, m_bits=m_bits, k=k),
            lambda cand, segs, seen: filter_new(
                cand, segs, seen, num_buckets=num_buckets,
                m_bits=m_bits, k=k),
        )
    if name == "cuckoo":
        from anycrawl_spark import cuckoo

        slots = n_slots if n_slots is not None else cuckoo.DEFAULT_N_SLOTS
        return SeenFilterFamily(
            "cuckoo",
            ["cuckoo", num_buckets, slots],
            lambda hashes: cuckoo.build_segments_driver(
                hashes, num_buckets=num_buckets, n_slots=slots),
            lambda cand, segs, seen: cuckoo.filter_new(
                cand, segs, seen, num_buckets=num_buckets, n_slots=slots),
        )
    raise ValueError(f"unknown seen-filter family: {name!r}")


def exact_antijoin(candidates: DataFrame, seen_exact: DataFrame,
                   url_hash_col: str = "url_hash") -> DataFrame:
    """Rows of ``candidates`` not in the exact seen-hash history.

    No ``distinct()`` on the seen side: a left-anti equi-join returns the
    same rows whether or not the right side holds duplicates, the seen
    checkpoint is unique by construction (each round's delta is new-only
    hashes — ``CrawlEngine._write_state`` asserts it before the delta
    joins the seen set), and the dedup cost was real — a full exchange
    plus two HashAggregate passes over the whole standing seen set EVERY
    round, two extra stage barriers ahead of the (auto-broadcast) join
    build.
    """
    return candidates.join(
        seen_exact.select(F.col(url_hash_col).alias("__seen_hash")),
        on=candidates[url_hash_col] == F.col("__seen_hash"),
        how="left_anti",
    )


def prefilter_antijoin(candidates: DataFrame,
                       segments: "DataFrame | dict[int, bytes] | None",
                       seen_exact: DataFrame | None, url_hash_col: str,
                       num_buckets: int, test_batch) -> DataFrame:
    """Shared pre-filter + exact-anti-join pipeline for both filter
    families (bloom in this module, cuckoo in anycrawl_spark.cuckoo).

    ``test_batch(hashes, segments) -> np.ndarray[bool]`` is the membership
    probe of one Arrow batch against a ``{bucket: blob}`` mapping — the
    only thing that differs between families. Rows the probe rejects are
    definitely new (no false negatives) and skip the exact join; only the
    maybe-seen minority pays it. With no segments this degrades to the
    plain exact anti-join; with no exact history it is a no-op (a
    probabilistic filter can never CONFIRM membership — dropping on a
    filter hit would lose rows to false positives).

    ``segments`` is either the driver dict (the crawl engine) or a
    ``(bucket, bitmap)`` DataFrame (the registry leaves). The dict ships
    ONCE per executor as a Spark broadcast; the DataFrame is broadcast-
    joined onto the candidates and each batch's distinct buckets form its
    mapping.
    """
    if seen_exact is None:
        return candidates
    if segments is None:
        return exact_antijoin(candidates, seen_exact, url_hash_col)

    out_fields = list(candidates.columns)
    # fresh StructType — StructType.add MUTATES and DataFrame.schema is a
    # cached_property, so building on candidates.schema would leave a
    # phantom __maybe_seen field on the caller's DataFrame object
    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType([*candidates.schema.fields,
                         StructField("__maybe_seen", BooleanType())])

    if isinstance(segments, dict):
        bc = candidates.sparkSession.sparkContext.broadcast(segments)

        def test(iterator):
            seg = bc.value
            for pdf in iterator:
                out = pdf[out_fields].copy()
                out["__maybe_seen"] = test_batch(pdf[url_hash_col], seg)
                yield out

        tested = candidates.mapInPandas(test, schema=schema)
    else:
        cand = candidates.withColumn(
            "__bucket", bucket_col(url_hash_col, num_buckets))
        joined = cand.join(
            F.broadcast(segments.withColumnRenamed("bucket", "__bucket")),
            "__bucket", "left",
        )

        def test(iterator):
            for pdf in iterator:
                first = pdf.drop_duplicates("__bucket")
                seg = {int(b): bm for b, bm in zip(first["__bucket"],
                                                   first["bitmap"])
                       if bm is not None}
                out = pdf[out_fields].copy()
                out["__maybe_seen"] = test_batch(pdf[url_hash_col], seg)
                yield out

        tested = joined.mapInPandas(test, schema=schema)
    # ONE anti-join whose residual condition exempts probe-negative rows:
    # a definitely-new row satisfies the condition against no seen row and
    # passes through; a maybe-seen row survives only if absent from the
    # exact history. Equivalent to splitting into (definitely_new ∪
    # maybe_seen-anti-join) — but the split's union re-evaluated the whole
    # candidate subtree (corpus join, extraction, dedup window, probe)
    # once per branch, which measured as ~half the BFS round's fixed cost.
    # The equi key keeps the hash distribution (no null-key skew), so the
    # probe-negative majority still flows partition-aligned at any scale.
    # No distinct() on the seen side — same reasoning as exact_antijoin:
    # left-anti results are duplicate-insensitive on the build side and the
    # dedup cost an exchange + two aggregate passes over the seen set.
    seen_keys = seen_exact.select(
        F.col(url_hash_col).alias("__seen_hash"))
    return (tested.join(
                seen_keys,
                (tested[url_hash_col] == seen_keys["__seen_hash"])
                & F.col("__maybe_seen"),
                "left_anti")
            .drop("__maybe_seen"))


def filter_new(candidates: DataFrame,
               segments: "DataFrame | dict[int, bytes] | None",
               seen_exact: DataFrame | None,
               url_hash_col: str = "url_hash",
               num_buckets: int = DEFAULT_NUM_BUCKETS,
               m_bits: int = DEFAULT_M_BITS,
               k: int = DEFAULT_K) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is NOT in the seen set —
    Bloom pre-filter + exact anti-join (see prefilter_antijoin)."""
    return prefilter_antijoin(
        candidates, segments, seen_exact, url_hash_col, num_buckets,
        lambda hashes, seg: bloom_probe(hashes, seg, num_buckets, m_bits, k))
