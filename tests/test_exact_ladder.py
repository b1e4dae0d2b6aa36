"""The reference's operator-semantics keystone cases, ported 1:1
(reference: tests/particular_cases.rs:25-110 and tests/static fixtures).

Each case builds exact payload contents and asserts group-count /
bucket-count, exactly like the Rust tests assert
``counter.duplicates().iter().count()`` and ``counter.as_inner().len()``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yadf_spark.config import Factor, LadderConfig, ScanFilter
from yadf_spark.operators import exact

CFG = LadderConfig()  # 4 KiB prefix/suffix, 64 KiB suffix threshold


def _df(spark, payloads: dict[str, bytes]):
    return spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        schema="image_id string, bytes binary",
    )


def _run(spark, payloads, cfg=CFG):
    assignments = exact.exact_assignments(_df(spark, payloads), cfg=cfg)
    groups = exact.groups_from_assignments(assignments, Factor.over(1)).collect()
    buckets = exact.groups_from_assignments(assignments, Factor.over(0)).collect()
    return groups, buckets


def test_identical_small_files(spark):
    # particular_cases.rs:25-36
    groups, _ = _run(spark, {"a": b"mmmmm", "b": b"mmmmm"})
    assert len(groups) == 1
    assert sorted(groups[0]["members"]) == ["a", "b"]
    assert groups[0]["n"] == 2


def test_identical_larger_than_prefix(spark):
    # particular_cases.rs:38-49 — 3 x 256 KiB identical
    payload = bytes(range(256)) * 1024  # 256 KiB, exercises suffix+full stages
    groups, _ = _run(spark, {"a": payload, "b": payload, "c": payload})
    assert len(groups) == 1
    assert groups[0]["n"] == 3


def test_files_differing_by_size(spark):
    # particular_cases.rs:51-61 — "aaaa" vs "aaa": 0 groups, 2 buckets
    groups, buckets = _run(spark, {"a": b"aaaa", "b": b"aaa"})
    assert len(groups) == 0
    assert len(buckets) == 2


def test_files_differing_by_prefix(spark):
    # particular_cases.rs:63-73 — same size, different first bytes
    groups, buckets = _run(spark, {"a": b"aaaa", "b": b"baaa"})
    assert len(groups) == 0
    assert len(buckets) == 2


def test_files_differing_by_suffix(spark):
    # particular_cases.rs:75-90 — same 768 KiB prefix, differ in last 4
    # bytes. Kills any prefix-only implementation.
    base = b"x" * (768 * 1024)
    groups, buckets = _run(spark, {"a": base + b"abcd", "b": base + b"efgh"})
    assert len(groups) == 0
    assert len(buckets) == 2


def test_files_differing_by_middle(spark):
    # particular_cases.rs:92-110 — identical prefix AND suffix, differ in
    # the middle. Kills a prefix+suffix-only implementation.
    pre, post = b"p" * (256 * 1024), b"s" * (256 * 1024)
    groups, buckets = _run(spark, {"a": pre + b"MID1" + post, "b": pre + b"MID2" + post})
    assert len(groups) == 0
    assert len(buckets) == 2


def test_static_fixture_tree(spark):
    # tests/static: foo=bar=qix="aa\n", qux="bb\n", qax="i\n" -> one
    # 3-member group
    groups, buckets = _run(
        spark,
        {"foo": b"aa\n", "bar": b"aa\n", "qix": b"aa\n", "qux": b"bb\n", "qax": b"i\n"},
    )
    assert len(groups) == 1
    assert sorted(groups[0]["members"]) == ["bar", "foo", "qix"]
    assert len(buckets) == 3


def test_ground_truth_oracle_on_fixture_corpus(spark):
    """The reference's whole-home sanity check (particular_cases.rs:10-23):
    byte-compare every member of every reported group against the first.
    Run over the planted fixture corpus and also check group counts
    against the manifest."""
    from yadf_spark.fixtures import images

    n = 320
    df = spark.createDataFrame(images.images_pdf(n))
    groups = exact.exact_dup_groups(df).collect()
    payloads = {r["image_id"]: bytes(r["bytes"]) for r in df.collect()}
    for g in groups:
        first = payloads[g["members"][0]]
        assert all(payloads[m] == first for m in g["members"])
    # every planted exact-dup cluster must be recovered exactly
    truth = images.truth_pdf(n)
    planted = {
        c: sorted(grp["image_id"])
        for c, grp in truth.groupby("true_cluster")
        if c.startswith("dup-") and len(grp) > 1
    }
    got = {tuple(sorted(g["members"])) for g in groups}
    for members in planted.values():
        assert tuple(members) in got


def test_stage_routing_and_stats(spark):
    payloads = {
        "uniq_size": b"z" * 10,  # unique size (after others) -> size stage
        "small_a": b"aa\n",
        "small_b": b"aa\n",  # dup < 4 KiB -> resolves at prefix stage
        "mid_a": b"m" * 8192,
        "mid_b": b"m" * 8191 + b"X",  # same prefix? no - differing size
    }
    assignments = exact.exact_assignments(_df(spark, payloads))
    stages = {r["id"]: r["stage"] for r in assignments.collect()}
    assert stages["uniq_size"] == "size"
    assert stages["small_a"] == "prefix" and stages["small_b"] == "prefix"
    stats = exact.scan_stats(assignments).collect()[0]
    assert stats["scanned"] == 5
    assert stats["duplicates"] == 2 and stats["dup_groups"] == 1


def test_full_hash_only_for_survivors(spark):
    """The reference's key I/O-saving invariant (src/fs.rs:42-47): rows
    with a unique cheap key must never reach the full-hash stage."""
    payloads = {"a": b"q" * 5000, "b": b"r" * 5000, "c": b"s" * 6000}
    assignments = exact.exact_assignments(_df(spark, payloads))
    by_stage = {r["id"]: r["stage"] for r in assignments.collect()}
    assert by_stage["c"] == "size"
    # a,b share a size but differ in prefix -> resolved at prefix, no full hash
    assert by_stage["a"] == "prefix" and by_stage["b"] == "prefix"
    assert "full" not in by_stage.values()


def test_scan_filters(spark):
    # reference integration tests: min/max/regex/glob over a planted tree
    # (tests/integration.rs:61-150)
    payloads = {
        "dir/a.txt": b"aa",
        "dir/b.txt": b"aa",
        "dir/c.log": b"aa",
        "dir/big.txt": b"a" * 100,
    }
    df = _df(spark, payloads)

    f = ScanFilter(regex=r"^[ab]\.txt$")
    got = exact.apply_scan_filters(df, f).select("image_id").collect()
    assert sorted(r[0] for r in got) == ["dir/a.txt", "dir/b.txt"]

    f = ScanFilter(glob="*.txt")
    got = exact.apply_scan_filters(df, f).select("image_id").collect()
    assert sorted(r[0] for r in got) == ["dir/a.txt", "dir/b.txt", "dir/big.txt"]

    f = ScanFilter(min_size=3)
    got = exact.apply_scan_filters(df, f).select("image_id").collect()
    assert [r[0] for r in got] == ["dir/big.txt"]

    f = ScanFilter(max_size=2)
    got = exact.apply_scan_filters(df, f).select("image_id").collect()
    assert sorted(r[0] for r in got) == ["dir/a.txt", "dir/b.txt", "dir/c.log"]


@pytest.mark.parametrize(
    "factor,expected_counts",
    [
        (Factor.over(1), {3, 2}),
        (Factor.over(2), {3}),
        (Factor.equal(1), {1}),
        (Factor.equal(2), {2}),
        (Factor.under(3), {1, 2}),
    ],
)
def test_rfactor_variants(spark, factor, expected_counts):
    # reference: src/args.rs:79-104, src/bag/replicates.rs:55-63
    payloads = {
        "t1": b"three", "t2": b"three", "t3": b"three",
        "d1": b"two!!", "d2": b"two!!",
        "u1": b"one!!!!",
    }
    assignments = exact.exact_assignments(_df(spark, payloads))
    groups = exact.groups_from_assignments(assignments, factor).collect()
    assert {g["n"] for g in groups} == expected_counts


def test_ladder_on_string_payloads_portable_algo(spark):
    """md5 mode over string payloads — the oracle-portable configuration
    used by the driver-contract documents queries."""
    df = spark.createDataFrame(
        [("a", "hello world"), ("b", "hello world"), ("c", "bye")],
        schema="image_id string, bytes string",
    )
    cfg = LadderConfig(prefix_len=4, suffix_len=4, suffix_threshold=8,
                       full_hash_min_size=2, algo="md5")
    groups = exact.exact_dup_groups(df, cfg=cfg).collect()
    assert len(groups) == 1 and sorted(groups[0]["members"]) == ["a", "b"]


def test_no_payload_in_shuffle_plan(spark):
    """Scale invariant: the payload column must not appear in any
    exchange — only narrow (id, size, hash) rows shuffle."""
    df = _df(spark, {"a": b"aa", "b": b"aa"})
    assignments = exact.exact_assignments(df)
    plan = assignments._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1)


def test_ladder_no_broadcast_mode_same_groups(spark):
    """broadcast_candidates_below=0 switches the full-hash semi-join to
    a shuffled join (the extreme-candidate-count escape hatch) — groups
    must be identical either way."""
    from yadf_spark.config import LadderConfig

    rows = [(f"id{i}", bytes([i % 5]) * 60) for i in range(40)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    base_cfg = LadderConfig(prefix_len=8, suffix_len=8, suffix_threshold=32, full_hash_min_size=8)
    no_bc = LadderConfig(
        prefix_len=8, suffix_len=8, suffix_threshold=32, full_hash_min_size=8,
        broadcast_candidates_below=0,
    )

    def groups(cfg):
        a = exact.exact_assignments(df, cfg=cfg).collect()
        from collections import defaultdict

        bag = defaultdict(set)
        for r in a:
            bag[r["group_key"]].add(r["id"])
        return {frozenset(v) for v in bag.values()}

    assert groups(base_cfg) == groups(no_bc)


def test_blake2b_wide_hash_family(spark):
    """X1 wide-hash family (the reference's default-width posture,
    src/hasher.rs:23-34): the ladder under blake2b128 must produce the
    same group PARTITION as sha256, and every stage key must equal the
    stdlib hashlib.blake2b digest computed independently (LE-u64 size
    mixing for the partial hash, src/fs/hash.rs:27-42)."""
    import hashlib
    from collections import defaultdict

    from yadf_spark.functions import hashes

    payloads = {
        "a1": b"x" * 40, "a2": b"x" * 40,              # identical, full-hash stage
        "b": b"y" * 40,                                  # same size, differs
        "c": b"unique-size-payload",                    # size singleton
        "d1": b"z" * 300, "d2": b"z" * 299 + b"w",     # prefix collides, suffix splits
    }
    cfg = dict(prefix_len=8, suffix_len=8, suffix_threshold=128, full_hash_min_size=8)

    def partition(algo):
        a = exact.exact_assignments(
            _df(spark, payloads), cfg=LadderConfig(algo=algo, **cfg)
        ).collect()
        bag = defaultdict(set)
        for r in a:
            bag[r["group_key"]].add(r["id"])
        return {frozenset(v) for v in bag.values()}

    assert partition("blake2b128") == partition("sha256")

    # digest wiring differential: column results == driver-side hashlib
    df = _df(spark, payloads)
    out = {
        r["image_id"]: r
        for r in df.select(
            "image_id",
            hashes.prefix_hash(F.col("bytes"), F.length("bytes").cast("long"), 8, "blake2b128").alias("p"),
            hashes.full_hash(F.col("bytes"), "blake2b256").alias("f"),
        ).collect()
    }
    for k, v in payloads.items():
        want_p = "p:" + hashlib.blake2b(
            len(v).to_bytes(8, "little") + v[:8], digest_size=16
        ).hexdigest()
        want_f = "f:" + hashlib.blake2b(v, digest_size=32).hexdigest()
        assert out[k]["p"] == want_p, k
        assert out[k]["f"] == want_f, k


def test_prefix_stage_never_merges_differing_tails(spark):
    """Regression: with full_hash_min_size > prefix_len (DOC_LADDER's
    shape), two payloads sharing their whole prefix but differing in
    the tail used to resolve AT THE PREFIX STAGE with one group_key —
    a false exact-duplicate verdict. They must reach the full hash and
    part ways; true identical payloads must still group."""
    from yadf_spark.config import LadderConfig

    cfg = LadderConfig(
        prefix_len=16, suffix_len=16, suffix_threshold=256, full_hash_min_size=32, algo="md5"
    )
    prefix = b"P" * 16
    rows = [
        ("t1", prefix + b"AAAAAAAA"),   # size 24, tail A
        ("t2", prefix + b"BBBBBBBB"),   # size 24, tail B -> NOT a dup of t1
        ("d1", prefix + b"CCCCCCCC"),   # true dup pair
        ("d2", prefix + b"CCCCCCCC"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = {r.id: r for r in exact.exact_assignments(df, cfg=cfg).collect()}
    assert out["t1"].group_key != out["t2"].group_key
    assert out["d1"].group_key == out["d2"].group_key
    assert out["t1"].stage == "full" and out["d1"].stage == "full"


def test_truncate_lineage_is_result_invariant(spark):
    """truncate_lineage only changes WHERE the narrow frame's bytes live
    (one eager executor-local materialization vs per-branch recompute) —
    every (id, group_key, stage) verdict must be identical, including
    null-payload routing through the size-0 bucket."""
    payloads = {
        "a": b"mmmmm", "b": b"mmmmm",           # small dup pair
        "c": bytes(range(256)) * 300,            # 75 KiB unique (suffix stage)
        "d": bytes(range(256)) * 300,            # its dup
        "e": b"x" * 5000, "f": b"y" * 5000,      # same size, differ at prefix
    }
    df = _df(spark, payloads)
    df = df.unionByName(
        spark.createDataFrame([("g", None)], "image_id string, bytes binary")
    )

    def verdicts(truncate: bool):
        cfg = LadderConfig(truncate_lineage=truncate)
        return {
            r.id: (r.size, r.group_key, r.stage)
            for r in exact.exact_assignments(df, cfg=cfg).collect()
        }

    assert verdicts(True) == verdicts(False)


@pytest.mark.parametrize("algo", ["xxhash64", "md5"])
def test_null_payloads_never_group(spark, algo):
    """A null payload (fetch failed) is never byte-identical to anything
    (G7). xxhash64 skips NULL inputs and concat_ws drops them, so
    without a per-row key every null row shared the size-0 prefix key
    and came out as one exact group. Two zero-length payloads still
    group: they ARE byte-identical."""
    rows = [
        ("n1", None), ("n2", None), ("n3", None),
        ("e1", bytearray(b"")), ("e2", bytearray(b"")),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    a = exact.exact_assignments(df, cfg=LadderConfig(algo=algo))
    keys = {r.id: r.group_key for r in a.collect()}
    assert len({keys["n1"], keys["n2"], keys["n3"], keys["e1"]}) == 4
    assert keys["e1"] == keys["e2"]
    groups = exact.groups_from_assignments(a, Factor.over(1)).collect()
    assert [sorted(g["members"]) for g in groups] == [["e1", "e2"]]


def test_truncate_lineage_materializes_narrow_once(spark):
    """With truncation on (the default) the union branches must all scan
    the checkpointed narrow RDD — the payload-hashing projection runs
    exactly once, not once per branch. Observable in the plan: the
    branches read an ExistingRDD and no prefix-hash expression survives
    downstream of it; with truncation off the declarative plan keeps the
    hash expressions (the pure-plan mode plan tests rely on)."""
    rows = [(f"id{i}", bytes([i % 7]) * (50 + i % 3)) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    on = exact.exact_assignments(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in on or "LogicalRDD" in on
    off = (
        exact.exact_assignments(df, cfg=LadderConfig(truncate_lineage=False))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "xxhash64" in off
