"""MinHash / LSH semantics on planted captions."""

from __future__ import annotations

from pyspark.sql import functions as F

from yadf_spark.config import LshConfig
from yadf_spark.functions import text as T
from yadf_spark.operators import minhash

CFG = LshConfig(num_perm=64, bands=16, shingle_k=3, seed=42)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        ("a", base),
        ("b", base),  # identical -> jaccard 1.0
        ("c", base + " again"),  # near dup
        ("d", "completely different words about spark shuffles and parquet files"),
        ("e", "short text"),  # < k words -> whole-text shingle
        ("f", "short text"),
    ]
    return spark.createDataFrame(rows, "image_id string, caption string")


def test_shingles_and_edge_cases(spark):
    df = _docs(spark)
    sh = df.select("image_id", T.word_shingles(F.col("caption"), 3).alias("s")).collect()
    by_id = {r["image_id"]: r["s"] for r in sh}
    assert "the quick brown" in by_id["a"]
    assert by_id["e"] == ["short text"]  # shorter than k -> single shingle
    # distinctness: repeated shingles collapse
    assert len(by_id["a"]) == len(set(by_id["a"]))


def test_signature_deterministic_and_identical_docs_match(spark):
    df = _docs(spark)
    sig = minhash.add_signature(df, CFG)
    rows = {r["image_id"]: tuple(r["sig"]) for r in sig.collect()}
    assert rows["a"] == rows["b"]
    assert rows["e"] == rows["f"]
    assert rows["a"] != rows["d"]
    assert len(rows["a"]) == CFG.num_perm
    # deterministic across runs
    rows2 = {r["image_id"]: tuple(r["sig"]) for r in minhash.add_signature(df, CFG).collect()}
    assert rows == rows2


def test_lsh_candidates_find_near_dups_not_distinct_docs(spark):
    df = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash.minhash_candidates(df, CFG).collect()
    }
    assert ("a", "b") in pairs
    assert ("e", "f") in pairs
    assert ("a", "c") in pairs  # high-jaccard near dup caught by some band
    assert not any("d" in p for p in pairs)


def test_exact_jaccard_verification(spark):
    df = _docs(spark)
    pairs = minhash.minhash_candidates(df, CFG)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash.exact_jaccard(pairs, df, "image_id", "caption").collect()
    }
    assert jac[("a", "b")] == 1.0
    assert 0.5 < jac[("a", "c")] < 1.0


def test_salted_pair_generation_equals_plain_join(spark):
    """Salting must not change the result set — only its distribution.
    Force aggressive salting (salt_bucket_above=2) and compare with the
    unsalted output."""
    df = _docs(spark)
    sig = minhash.add_signature(df, CFG)
    buckets = minhash.explode_bands(sig, CFG, id_col="image_id")
    plain = {
        (r["id_a"], r["id_b"])
        for r in minhash.candidate_pairs_from_buckets(buckets, 10**6).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in minhash.candidate_pairs_from_buckets(buckets, 2).collect()
    }
    assert plain == salted and plain


def test_band_passes_equals_single_pass(spark):
    """The multi-pass shuffle bound (SCALE.md stage 2) must be a pure
    execution-strategy change: identical candidate set for every k,
    including k that does not divide the band count."""
    df = _docs(spark)
    single = {
        (r["id_a"], r["id_b"])
        for r in minhash.minhash_candidates(df, CFG).collect()
    }
    for k in (3, 5):  # neither divides bands=32: uneven last pass covered
        multi = {
            (r["id_a"], r["id_b"])
            for r in minhash.minhash_candidates(df, CFG, band_passes=k).collect()
        }
        assert multi == single and single


def test_duplicate_ids_in_bucket_produce_no_self_pairs(spark):
    """Duplicate image_id rows land twice in the same bucket; neither
    the small-bucket expansion nor the salted join may emit (x, x)."""
    rows = [
        ("dup", 0, 7), ("dup", 0, 7), ("other", 0, 7),  # small bucket
    ] + [
        (f"big{i:03d}", 1, 9) for i in range(20)
    ] + [("bigdup", 1, 9), ("bigdup", 1, 9)]  # salted (mega) bucket
    buckets = spark.createDataFrame(rows, "id string, band_idx int, band_hash long")
    for salt_above in (256, 4):  # both branches
        pairs = minhash.candidate_pairs_from_buckets(buckets, salt_above).collect()
        assert pairs
        assert all(r["id_a"] != r["id_b"] for r in pairs)
        assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_bucket_cap_drops_mega_buckets(spark):
    # 30 identical docs -> one mega bucket per band; cap at 10 drops them
    rows = [(f"x{i:02d}", "same caption every time for all rows") for i in range(30)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    sig = minhash.add_signature(df, CFG)
    buckets = minhash.explode_bands(sig, CFG, id_col="image_id")
    logged = []
    out = minhash.candidate_pairs_from_buckets(
        buckets, salt_bucket_above=256, max_bucket=10, log=logged.append
    )
    assert out.count() == 0
    assert logged and "dropped" in logged[0]


def test_recall_on_fixture_corpus(spark):
    """Caption-identical planted groups (exact + near-dup pairs share
    captions) must all surface as LSH candidates — recall 1.0 on
    caption-equal pairs at this config."""
    from yadf_spark.fixtures import images

    n = 400
    df = spark.createDataFrame(images.images_pdf(n))
    cfg = LshConfig()
    pairs = {
        tuple(sorted(p))
        for p in (
            (r["id_a"], r["id_b"]) for r in minhash.minhash_candidates(df, cfg).collect()
        )
    }
    truth = images.truth_dup_pairs(n)
    missing = truth - pairs
    assert not missing, f"LSH missed {len(missing)}/{len(truth)} planted pairs"


def test_edit_distance_pairs_exact_values_and_filter(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fax jumps"),  # 1 substitution
            (3, "completely different text here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {
        (r.id_a, r.id_b): (r.edit_dist, r.rel_dist)
        for r in minhash.edit_distance_pairs(pairs, docs, "doc_id", "text", 0.2).collect()
    }
    # (1,2): dist 1 over max-len 25 -> 0.04, kept; (1,3): far, filtered
    assert set(out) == {(1, 2)}
    assert out[(1, 2)][0] == 1
    assert abs(out[(1, 2)][1] - round(1 / 25, 6)) < 1e-9


def _two_corpora(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batch = spark.createDataFrame(
        [
            ("n1", base),  # near-dup of history h1/h2
            ("n2", base + " again"),  # near-dup of h1
            ("n3", "entirely novel content about arrow batches and codegen spans"),
            ("n4", "short text"),  # exact short dup of h4
        ],
        "image_id string, caption string",
    )
    history = spark.createDataFrame(
        [
            ("h1", base),
            ("h2", base),
            ("h3", "completely different words about spark shuffles and parquet files"),
            ("h4", "short text"),
        ],
        "image_id string, caption string",
    )
    return batch, history


def test_cross_corpus_candidates_and_verification(spark):
    """The two-sided band join finds batch-vs-history near-dups, never
    history-internal pairs (h1-h2 are identical but must not appear),
    and exact_jaccard_between verifies them with per-side resolution."""
    batch, history = _two_corpora(spark)
    cand = minhash.minhash_candidates_between(batch, history, CFG, "image_id", "caption")
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert ("n1", "h1") in pairs and ("n1", "h2") in pairs
    assert ("n4", "h4") in pairs
    assert not any(a.startswith("h") for a, _ in pairs)  # id_a always batch-side
    assert not any(b.startswith("n") for _, b in pairs)  # id_b always history-side
    jac = minhash.exact_jaccard_between(cand, batch, history, "image_id", "caption")
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert by_pair[("n1", "h1")] == 1.0
    assert by_pair[("n4", "h4")] == 1.0
    assert 0.5 < by_pair.get(("n2", "h1"), 0.0) < 1.0


def test_cross_corpus_salting_equals_plain_join(spark):
    """Aggressive salting (salt_bucket_above=2, forcing the salted-join
    branch) must produce exactly the unsalted pair set."""
    batch, history = _two_corpora(spark)
    ba = minhash.explode_bands(minhash.add_signature(batch, CFG), CFG, id_col="image_id")
    bb = minhash.explode_bands(minhash.add_signature(history, CFG), CFG, id_col="image_id")
    plain = {
        (r["id_a"], r["id_b"])
        for r in minhash.cross_candidate_pairs_from_buckets(ba, bb, 10**6).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in minhash.cross_candidate_pairs_from_buckets(ba, bb, 2).collect()
    }
    assert plain == salted and plain


def test_cross_corpus_side_cap_drops_viral_buckets(spark):
    """A bucket whose history side exceeds max_bucket is dropped with a
    logged count — same documented recall trade as the self-join path."""
    batch, history = _two_corpora(spark)
    viral = history.unionByName(
        spark.createDataFrame(
            [(f"h{i}", "the quick brown fox jumps over the lazy dog near the river bank today")
             for i in range(10, 20)],
            "image_id string, caption string",
        )
    )
    ba = minhash.explode_bands(minhash.add_signature(batch, CFG), CFG, id_col="image_id")
    bb = minhash.explode_bands(minhash.add_signature(viral, CFG), CFG, id_col="image_id")
    logged: list[str] = []
    pairs = minhash.cross_candidate_pairs_from_buckets(
        ba, bb, salt_bucket_above=4, max_bucket=5, log=logged.append
    ).collect()
    assert logged and "dropped" in logged[0]
    assert not any(r["id_b"] == "h1" for r in pairs)  # the viral bucket is gone
    assert any(r["id_a"] == "n4" and r["id_b"] == "h4" for r in pairs)  # small bucket survives


def test_near_dup_anti_join_survivors(spark):
    """End-to-end fuzzy ingest gate: only the novel batch row survives;
    all batch columns pass through untouched."""
    batch, history = _two_corpora(spark)
    out = minhash.near_dup_anti_join(
        batch, history, CFG, id_col="image_id", text_col="caption", threshold=0.8
    )
    assert set(out.columns) == set(batch.columns)
    assert {r["image_id"] for r in out.collect()} == {"n3"}


def test_near_dup_anti_join_overlapping_ids_never_self_match(spark):
    """A row is never its own duplicate: with history == batch (same ids,
    same texts) plus one unrelated doc, no batch row may be gated out by
    its own copy — only a DIFFERENT row may match."""
    batch, _ = _two_corpora(spark)
    history = batch.unionByName(
        spark.createDataFrame(
            [("h9", "unrelated vocabulary entirely elsewhere now")],
            "image_id string, caption string",
        )
    )
    out = minhash.near_dup_anti_join(
        batch, history, CFG, id_col="image_id", text_col="caption", threshold=0.8
    )
    # n1/n2 share the long base text -> they match EACH OTHER's history
    # copy (different id) and gate out; n3/n4 have unique texts whose
    # only history copy carries their own id -> they must survive
    assert {r["image_id"] for r in out.collect()} == {"n3", "n4"}
