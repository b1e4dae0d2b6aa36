"""Output formats (golden strings from the reference), sinks and
text-analysis functions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from yadf_spark.functions import text as T
from yadf_spark.operators import exact
from yadf_spark.sinks import formats


# --- output formats ---------------------------------------------------------

def _two_groups(spark):
    """The reference's golden-test bag: [foo,bar] and [hello,world]
    (src/bag/display.rs:49-89, src/bag/serialize.rs:29-48)."""
    df = spark.createDataFrame(
        [("k1", ["foo", "bar"], 2), ("k2", ["hello", "world"], 2)],
        "group_key string, members array<string>, n long",
    )
    return df


def test_fdupes_golden(spark):
    # display.rs:77-88: paths newline-separated, blank line between groups
    assert formats.render(_two_groups(spark), "fdupes") == "foo\nbar\n\nhello\nworld"


def test_machine_golden(spark):
    # display.rs:67-75: one group per line, quoted paths space-separated
    assert formats.render(_two_groups(spark), "machine") == '"foo" "bar"\n"hello" "world"'


def test_machine_control_char_escaping(spark):
    """Rust ``{:?}`` fidelity for control chars (char::escape_debug):
    \\t \\r \\n keep two-char escapes, other C0 + DEL + C1 render as
    ``\\u{hex}`` with lowercase un-padded hex — the expected string
    below is exactly ``format!("{:?}", path)`` for each path."""
    df = spark.createDataFrame(
        [("k", ["a\x00b\x01c\x1bd\x7fe\x80f\x9fg", "t\tn\nq\"s\\"], 2)],
        "group_key string, members array<string>, n long",
    )
    assert (
        formats.render(df, "machine")
        == '"a\\u{0}b\\u{1}c\\u{1b}d\\u{7f}e\\u{80}f\\u{9f}g" "t\\tn\\nq\\"s\\\\"'
    )


def test_json_golden(spark):
    # serialize.rs:33-47: [["foo","bar"],["hello","world"]]
    assert (
        formats.render(_two_groups(spark), "json")
        == '[["foo", "bar"], ["hello", "world"]]'
    )


def test_ldjson_and_csv(spark):
    g = _two_groups(spark)
    assert formats.render(g, "ld-json") == '["foo","bar"]\n["hello","world"]'
    assert formats.render(g, "csv") == "count,files\n2,foo,bar\n2,hello,world"


def test_end_to_end_fdupes_from_ladder(spark):
    df = spark.createDataFrame(
        [("foo", bytearray(b"aa\n")), ("bar", bytearray(b"aa\n")), ("qux", bytearray(b"bb\n"))],
        "image_id string, bytes binary",
    )
    groups = exact.exact_dup_groups(df)
    assert formats.render(groups, "fdupes") == "bar\nfoo"


def test_render_refuses_huge_collect(spark):
    """The driver-side render is bounded: above max_groups it must
    refuse with a pointer at the distributed writer, for every format
    (VERDICT r3 item 3 — the EXACT_MAX_ROWS discipline on the sink)."""
    import pytest

    groups = spark.createDataFrame(
        [(str(i), [f"p{i}a", f"p{i}b"], 2) for i in range(8)],
        "group_key string, members array<string>, n long",
    )
    for fmt in formats.FORMATS:
        with pytest.raises(ValueError, match="write it distributed"):
            formats.render(groups, fmt, max_groups=5)
        # under the bound the same frame renders fine (csv adds a
        # header line, hence 9)
        assert formats.render(groups, fmt, max_groups=9)


def test_write_lines_shards_above_threshold(spark, tmp_path):
    """Planted large output routes around coalesce(1): more than one
    part file, and concatenating part files in name order reproduces
    the single-file stream (the renderers' range exchange keeps global
    order across shards)."""
    groups = spark.createDataFrame(
        [(f"k{i:04d}", [f"path{i:04d}"], 1) for i in range(200)],
        "group_key string, members array<string>, n long",
    ).repartition(8)
    lines = formats.ldjson_lines(groups)

    single = tmp_path / "single"
    assert formats.write_lines(lines, str(single)) == "single"
    single_parts = sorted(p.name for p in single.iterdir() if p.name.startswith("part-"))
    assert len(single_parts) == 1

    # AQE would (correctly) fuse this tiny range exchange back into one
    # partition; disable its coalescing so the sharded layout is
    # observable at test scale
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        sharded = tmp_path / "sharded"
        assert formats.write_lines(lines, str(sharded), single_max=50) == "sharded"
        parts = sorted(p for p in sharded.iterdir() if p.name.startswith("part-"))
        assert len(parts) > 1
        concat = [ln for p in parts for ln in p.read_text().splitlines()]
        want = (single / single_parts[0]).read_text().splitlines()
        assert concat == want
    finally:
        spark.conf.set(coalesce_key, prev)


def test_write_lines_sharded_csv_header_leads(spark, tmp_path):
    """Sharded csv output: the ``count,files`` header must be the very
    first line of the first part file and the body globally ordered —
    guaranteed by csv_lines' sentinel sort key (ADVICE r4 item 3), not
    union partition order, so filename-order concatenation reproduces
    the single-file stream."""
    groups = spark.createDataFrame(
        [(f"k{i:04d}", [f"path{i:04d}"], 1) for i in range(200)],
        "group_key string, members array<string>, n long",
    ).repartition(8)
    lines = formats.csv_lines(groups)

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        sharded = tmp_path / "sharded_csv"
        assert formats.write_lines(lines, str(sharded), single_max=50) == "sharded"
        parts = sorted(p for p in sharded.iterdir() if p.name.startswith("part-"))
        assert len(parts) > 1
        concat = [ln for p in parts for ln in p.read_text().splitlines()]
    finally:
        spark.conf.set(coalesce_key, prev)
    assert concat[0] == "count,files"
    assert concat[1:] == [f"1,path{i:04d}" for i in range(200)]


def test_write_cluster_assignments(spark, tmp_path):
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "image_id string, cluster_id string"
    )
    out = str(tmp_path / "clusters")
    formats.write_cluster_assignments(clusters, out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.columns) == {"image_id", "cluster_id"}


# --- text functions ---------------------------------------------------------

def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", ""), ("c", "hi!!! ###")],
        "id string, text string",
    )
    out = df.select(
        "id",
        T.token_count(F.col("text")).alias("n_tok"),
        T.quality_score(F.col("text")).alias("q"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id["a"]["n_tok"] == 4
    assert by_id["b"]["n_tok"] == 0
    assert 0.0 <= by_id["c"]["q"] <= by_id["a"]["q"] <= 1.0
    assert len(by_id["a"]["fp"]) == 32  # md5 hex


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("a", "Hello,   World!"), ("b", "hello world"), ("c", "different")],
        "id string, text string",
    )
    fp = {r["id"]: r["f"] for r in df.select("id", T.fingerprint(F.col("text")).alias("f")).collect()}
    assert fp["a"] == fp["b"] != fp["c"]


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("en", "the cat and the dog of the house"),
            ("es", "el perro que ladra y la casa"),
            ("de", "der hund und die katze"),
            ("und", "xyzzy plugh quux"),
        ],
        "expect string, text string",
    )
    got = df.select("expect", T.language_id(F.col("text")).alias("lang")).collect()
    for r in got:
        assert r["lang"] == r["expect"], r


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + w - 1 share at least one fingerprint; disjoint random texts
    share none."""
    from pyspark.sql import functions as F

    from yadf_spark.functions import text as T

    k, w = 8, 4
    shared = "a common stolen passage of text"  # len 31 >= k+w-1
    rows = [
        ("a", f"prefix one {shared} suffix alpha"),
        ("b", f"other beginning {shared} and another end"),
        ("c", "completely different content with nothing in common xyzzy"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    fps = {
        r["id"]: set(r["fps"])
        for r in df.select("id", T.winnow_fingerprints(F.col("text"), k, w).alias("fps")).collect()
    }
    assert fps["a"] & fps["b"], "shared substring must yield a shared fingerprint"
    assert not (fps["a"] & fps["c"]) and not (fps["b"] & fps["c"])
    # portable-hash mode selects the same GRAM positions deterministically
    fps32 = {
        r["id"]: set(r["fps"])
        for r in df.select(
            "id", T.winnow_fingerprints(F.col("text"), k, w, algo="md5_32").alias("fps")
        ).collect()
    }
    assert fps32["a"] & fps32["b"]


def test_winnow_short_text(spark):
    from pyspark.sql import functions as F

    from yadf_spark.functions import text as T

    df = spark.createDataFrame([("s", "tiny")], "id string, text string")
    out = df.select(T.winnow_fingerprints(F.col("text"), 8, 4).alias("fps")).collect()[0]
    assert len(out["fps"]) == 1  # whole-text fallback


def test_webdataset_shard_export_roundtrip(spark, tmp_path):
    """Tar shard export: every row lands in exactly one shard, payload
    and caption members pair by basename, member order is id-sorted,
    and the shard assignment is the content-addressed md5 bucket (stable
    across reruns and partition layouts)."""
    import hashlib
    import tarfile

    from yadf_spark.sinks.webdataset import write_webdataset_shards

    rows = [(f"im-{i:03d}", bytes([i]) * (i + 1), f"caption {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, caption string")
    out = str(tmp_path / "wds")
    write_webdataset_shards(df.repartition(7), out, n_shards=3, caption_col="caption")

    seen = {}
    for name in sorted(os.listdir(out)):
        shard = int(name.split("-")[1].split(".")[0])
        with tarfile.open(os.path.join(out, name)) as tf:
            members = tf.getnames()
            imgs = [m for m in members if m.endswith(".jpg")]
            assert imgs == sorted(imgs)  # deterministic member order
            for m in imgs:
                iid = m[:-4]
                payload = tf.extractfile(m).read()
                cap = tf.extractfile(f"{iid}.txt").read().decode()
                seen[iid] = (shard, payload, cap)
    assert len(seen) == 20
    for iid, (shard, payload, cap) in seen.items():
        i = int(iid.split("-")[1])
        assert payload == bytes([i]) * (i + 1) and cap == f"caption {i}"
        expect = int(hashlib.md5(f"{iid}:wds".encode()).hexdigest()[:8], 16) % 3
        assert shard == expect


def test_webdataset_reexport_removes_stale_shards(spark, tmp_path):
    """A re-export with fewer shards must not leave the previous run's
    extra archives behind."""
    from yadf_spark.sinks.webdataset import write_webdataset_shards

    rows = [(f"x-{i}", b"p" * 4) for i in range(12)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    out = str(tmp_path / "wds")
    write_webdataset_shards(df, out, n_shards=6)
    first = set(os.listdir(out))
    assert any(n > "shard-00001.tar" for n in first)  # wide run made more
    write_webdataset_shards(df, out, n_shards=2)
    second = set(os.listdir(out))
    assert second <= {"shard-00000.tar", "shard-00001.tar"}
