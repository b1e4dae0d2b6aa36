"""Property-based differential gate: on ANY corpus of byte payloads, the
staged ladder must produce exactly the same duplicate grouping as the
naive one-pass full-hash engine (the reference's Python sibling,
scripts/yadf.py — and the model of its cross-version differential test,
scripts/bench-versions.sh:157-188).

Hypothesis drives payload shapes that target the ladder's stage
boundaries: shared sizes, shared 16-byte prefixes, shared suffixes,
straddling the suffix threshold — the generalized versions of the
reference's planted `collide-prefix` corpora (gen-corpus.py:199-217)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yadf_spark.config import LadderConfig
from yadf_spark.operators import exact

# Small thresholds so tiny payloads exercise every stage.
CFG = LadderConfig(prefix_len=16, suffix_len=16, suffix_threshold=64, full_hash_min_size=16)

base = st.binary(min_size=0, max_size=200)


@st.composite
def corpus(draw):
    """A list of payloads with deliberate collision structure."""
    seeds = draw(st.lists(base, min_size=1, max_size=8))
    rows = []
    for i, s in enumerate(seeds):
        rows.append(s)
        variant = draw(st.sampled_from(["dup", "suffix", "prefix", "middle", "pad", "none"]))
        if variant == "dup":
            rows.append(s)
        elif variant == "suffix" and len(s) >= 1:
            rows.append(s[:-1] + bytes([s[-1] ^ 1]))  # same length+prefix, last byte differs
        elif variant == "prefix" and len(s) >= 1:
            rows.append(bytes([s[0] ^ 1]) + s[1:])  # same length+suffix, first byte differs
        elif variant == "middle" and len(s) >= 3:
            m = len(s) // 2
            rows.append(s[:m] + bytes([s[m] ^ 1]) + s[m + 1 :])  # same ends, middle differs
        elif variant == "pad":
            rows.append(s + b"\x00")  # same prefix, length differs
    return rows


def naive_groups(payloads: list[bytes]) -> set[frozenset]:
    bag = defaultdict(list)
    for i, p in enumerate(payloads):
        bag[hashlib.sha256(p).hexdigest()].append(f"r{i:03d}")
    return {frozenset(v) for v in bag.values()}


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(corpus())
def test_ladder_equals_naive_grouping(spark, payloads):
    df = spark.createDataFrame(
        [(f"r{i:03d}", p) for i, p in enumerate(payloads)], "image_id string, bytes binary"
    )
    assignments = exact.exact_assignments(df, cfg=CFG).collect()
    bag = defaultdict(list)
    for r in assignments:
        bag[r["group_key"]].append(r["id"])
    got = {frozenset(v) for v in bag.values()}
    assert got == naive_groups(payloads)
