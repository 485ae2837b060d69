"""Partitioned cuckoo-filter URL-seen set (north rule: "URL-seen set is a
partitioned Bloom/cuckoo filter keyed by canonicalized-URL hash").

Drop-in alternative to the Bloom family in :mod:`anycrawl_spark.seen`, with
the same segment-row interface (``bucket int, bitmap binary``) and the same
correctness contract: the filter only PRE-classifies candidates — rows it
rejects are definitely new (no false negatives), rows it flags pay the exact
anti-join — so crawl results are byte-identical whichever family is
configured. What cuckoo buys over Bloom at deployment scale:

- **bounded lookup cost**: membership probes exactly 2 buckets x 4 slots,
  independent of load, vs k scattered bit reads;
- **higher load factor at equal FP rate**: 16-bit fingerprints in 4-way
  buckets give ~0.012% FP up to ~95% occupancy.

The crawl engine rebuilds the filter from its exact seen set at every
seen-state write, TTL eviction included, so the table is never merged or
deleted from: it is derived state with one producer (the driver build).

Layout per hash-space bucket (same ``sha2(canonical_url, 256)`` sharding as
the Bloom family): a partial-key cuckoo table [Fan et al., CoNEXT'14 —
public algorithm] of ``n_slots`` 4-way buckets holding 16-bit fingerprints
(uint16 little-endian, 0 = empty), serialized as ``1 saturation-flag byte +
table bytes``. The alternate index is ``i XOR H(fp)``, so an entry's other
bucket is recoverable from (slot index, fingerprint) alone — which is what
lets the eviction chain move a fingerprint without its original key.

Saturation is the no-false-negative escape hatch: if an insert exhausts its
eviction chain (table effectively full), the segment is flagged saturated
and membership tests in that bucket return maybe-seen for every candidate —
degrading that bucket to the exact anti-join, never to a false negative.
Fingerprints, indices and shard buckets come from the numpy hash-slice core
in :mod:`anycrawl_spark.seen` (``cuckoo_fp_i1``; ``_fp_i1`` is its scalar
reference), so membership is a pure function of the canonical URL. The
probe is vectorized per shard bucket — both 4-slot buckets of every row
gathered at once; only insertion (the eviction chain) stays sequential.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from anycrawl_spark.seen import (
    SEGMENT_SCHEMA,
    bucket_col,
    bucket_groups,
    bucket_ids,
    cuckoo_fp_i1,
    hex_nibbles,
    prefilter_antijoin,
)

SLOT_WIDTH = 4           # fingerprints per cuckoo bucket (4-way associative)
MAX_KICKS = 500          # eviction-chain bound before declaring saturation
DEFAULT_N_SLOTS = 1 << 12  # 4096 buckets x 4 slots = 16384 entries/segment
_FP_MIX = 0x5BD1E995     # multiplicative mix for the alternate-index hash


def check_n_slots(n_slots: int) -> None:
    """n_slots must be a positive power of two — the XOR alternate index
    masks with n_slots-1 (0 passes the naive bit test but masks with -1)."""
    if n_slots <= 0 or n_slots & (n_slots - 1):
        raise ValueError(f"n_slots must be a positive power of two, "
                         f"got {n_slots}")


def _fp_i1(hash_hex: str, n_slots: int) -> tuple[int, int]:
    # hex slices [9:13) -> 16-bit fingerprint (0 remapped to 1: 0 is the
    # empty-slot sentinel), [17:25) -> primary index. Slice [1:9) is the
    # shard bucket id (seen.bucket_col); disjoint slices keep fingerprint,
    # index, and shard independent.
    fp = int(hash_hex[9:13], 16) or 1
    i1 = int(hash_hex[17:25], 16) & (n_slots - 1)
    return fp, i1


def _alt(i: int, fp: int, n_slots: int) -> int:
    # partial-key alternate index: involution (alt(alt(i)) == i), so an
    # evicted fingerprint's other bucket follows from where it sat; also
    # applies elementwise to int64 arrays (fp * _FP_MIX < 2**47)
    return (i ^ (fp * _FP_MIX)) & (n_slots - 1)


def _new_table(n_slots: int) -> np.ndarray:
    return np.zeros(n_slots * SLOT_WIDTH, dtype=np.uint16)


def _insert(arr: np.ndarray, fp: int, i1: int, n_slots: int) -> bool:
    """Insert fingerprint ``fp`` whose (either) resident index is ``i1``.
    Returns False when the eviction chain exceeds MAX_KICKS — the caller
    must mark the segment saturated (a displaced victim is lost from the
    table at that point, which saturation makes harmless)."""
    i2 = _alt(i1, fp, n_slots)
    for i in (i1, i2):
        base = i * SLOT_WIDTH
        for s in range(SLOT_WIDTH):
            if arr[base + s] == 0:
                arr[base + s] = fp
                return True
    i = i1
    for kick in range(MAX_KICKS):
        # deterministic victim (kick % width): membership never depends on
        # table layout, but determinism keeps segment bytes reproducible
        base = i * SLOT_WIDTH
        s = kick % SLOT_WIDTH
        victim = int(arr[base + s])
        arr[base + s] = fp
        fp = victim
        i = _alt(i, fp, n_slots)
        base = i * SLOT_WIDTH
        for s2 in range(SLOT_WIDTH):
            if arr[base + s2] == 0:
                arr[base + s2] = fp
                return True
    return False


def _contains(arr: np.ndarray, fp: int, i1: int, n_slots: int) -> bool:
    base = i1 * SLOT_WIDTH
    for s in range(SLOT_WIDTH):
        if arr[base + s] == fp:
            return True
    base = _alt(i1, fp, n_slots) * SLOT_WIDTH
    for s in range(SLOT_WIDTH):
        if arr[base + s] == fp:
            return True
    return False


def _encode(arr: np.ndarray, saturated: bool) -> bytes:
    return bytes([1 if saturated else 0]) + arr.astype("<u2").tobytes()


def _decode(blob: bytes) -> tuple[np.ndarray, bool]:
    return np.frombuffer(blob, dtype="<u2", offset=1), blob[0] != 0


def _build_table(hashes, n_slots: int) -> bytes:
    """One segment's table from its keys. Input keys are dedup'd (set):
    the same URL twice is one fingerprint copy; two distinct keys that
    collide on (fp, bucket pair) keep a copy each."""
    arr = _new_table(n_slots)
    saturated = False
    # sorted: reproducible segment bytes
    fps, i1s = cuckoo_fp_i1(hex_nibbles(sorted(set(hashes))), n_slots)
    for fp, i1 in zip(fps.tolist(), i1s.tolist()):
        if not _insert(arr, fp, i1, n_slots):
            saturated = True
            break
    return _encode(arr, saturated)


def build_segments(df: DataFrame, url_hash_col: str = "url_hash",
                   num_buckets: int = 32,
                   n_slots: int = DEFAULT_N_SLOTS) -> DataFrame:
    """Build (bucket, bitmap) cuckoo segment rows from url hashes —
    same applyInPandas shape as seen.build_segments."""
    check_n_slots(n_slots)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "bucket": [int(pdf["bucket"].iloc[0])],
            "bitmap": [_build_table(pdf[url_hash_col], n_slots)],
        })

    return (
        df.select(url_hash_col)
        .withColumn("bucket", bucket_col(url_hash_col, num_buckets))
        .groupBy("bucket")
        .applyInPandas(build, schema=SEGMENT_SCHEMA)
    )


def build_segments_driver(hashes, num_buckets: int = 32,
                          n_slots: int = DEFAULT_N_SLOTS) -> dict[int, bytes]:
    """Driver-side build over an already-collected hash list (the crawl
    engine's driver-resident filter)."""
    hashes = np.asarray(hashes, dtype=object)
    return {b: _build_table(hashes[rows], n_slots)
            for b, rows in bucket_groups(
                bucket_ids(hex_nibbles(hashes), num_buckets))}


def probe(hashes, segments: dict[int, bytes], num_buckets: int,
          n_slots: int) -> np.ndarray:
    """Maybe-seen mask of a hash batch: its fingerprint in either of its
    two 4-slot buckets. A bucket with no segment is definitely new; a
    saturated segment reads as all maybe-seen."""
    nib = hex_nibbles(hashes)
    fp, i1 = cuckoo_fp_i1(nib, n_slots)
    i2 = _alt(i1, fp, n_slots)
    maybe = np.zeros(len(nib), dtype=bool)
    for b, rows in bucket_groups(bucket_ids(nib, num_buckets)):
        blob = segments.get(b)
        if blob is None:
            continue
        if blob[0]:
            maybe[rows] = True
            continue
        # zero-copy read-only view (the probe never writes)
        table = np.frombuffer(blob, dtype="<u2",
                              offset=1).reshape(n_slots, SLOT_WIDTH)
        f = fp[rows, None]
        maybe[rows] = ((table[i1[rows]] == f)
                       | (table[i2[rows]] == f)).any(axis=1)
    return maybe


def filter_new(candidates: DataFrame,
               segments: "DataFrame | dict[int, bytes] | None",
               seen_exact: DataFrame | None,
               url_hash_col: str = "url_hash",
               num_buckets: int = 32,
               n_slots: int = DEFAULT_N_SLOTS) -> DataFrame:
    """Rows of ``candidates`` not in the seen set: cuckoo pre-filter +
    exact anti-join via the shared seen.prefilter_antijoin pipeline (only
    the membership probe differs between families)."""
    return prefilter_antijoin(
        candidates, segments, seen_exact, url_hash_col, num_buckets,
        lambda hashes, seg: probe(hashes, seg, num_buckets, n_slots))
