"""ExactSubstr span semantics on adversarial (repetitive) text.

Round-14 regression pins for the advisor-flagged hazard: the anchor
self-join used to take every position of every anchor, so a document
containing a long periodic run ("aaaa…", repeated boilerplate lines)
contributed many positions for the SAME hash and the join exploded
quadratically across diagonals — and pair-level ``shared_chars`` could
wildly exceed both document lengths. The fix keeps only the FIRST
position of each anchor per document (``firstpos``), so repetition is
bounded by the period and the reported metrics stay sane.
"""
from __future__ import annotations

import pytest

from flink_connector_http_spark.operators.dedup import (
    EXSUB_K,
    _exsub_spans,
    dedup_exact_substring,
    dedup_exact_substring_clean_stats,
    dedup_exact_substring_removelist,
)


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i, t, "en", "test", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    return str(tmp_path)


@pytest.fixture(scope="module")
def repetitive_dir(spark, tmp_path_factory):
    """Two docs sharing one 40-char periodic run inside 52-char texts —
    the advisor's exact pathology (single repeated char => every anchor
    in the run has the SAME hash)."""
    run = "a" * 40
    texts = [
        "PREFIX_ONE" + run + "XY",  # 52 chars
        "prefix_two" + run + "zw",  # 52 chars
    ]
    return _write_docs(
        spark, tmp_path_factory.mktemp("exsub_rep"), texts
    )


@pytest.fixture(scope="module")
def plain_dir(spark, tmp_path_factory):
    """Two docs sharing one 40-char NON-repeating run: every window hash
    in the run is distinct, so the span must come back at full length."""
    import string

    run = (string.ascii_letters + string.digits)[:40]
    texts = [
        "DOC-A-HEAD" + run + "!?",
        "doc-b-head" + run + ".,",
    ]
    return _write_docs(spark, tmp_path_factory.mktemp("exsub_plain"), texts)


def test_repetitive_run_spans_bounded(spark, repetitive_dir):
    # the 40-char single-char run yields ONE distinct anchor hash per doc
    # (first position only), hence exactly one match, one span of EXSUB_K
    rows = dedup_exact_substring(spark, repetitive_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_spans"] == 1
    assert r["max_span_chars"] == EXSUB_K
    # the advisor's bug: shared_chars was 730 for a 52-char doc
    assert r["shared_chars"] <= 52


def test_repetitive_anchor_postings_capped(spark, repetitive_dir):
    # no (doc, hash) may survive with more than one position: the span
    # builder's inputs are exactly one row per (pair, diag, pa)
    spans = _exsub_spans(spark, repetitive_dir)
    pairs = spans.select("a_id", "b_id", "diag", "sa", "ea").collect()
    seen = set()
    for p in pairs:
        key = (p["a_id"], p["b_id"], p["diag"], p["sa"], p["ea"])
        assert key not in seen
        seen.add(key)


def test_removelist_fraction_sane(spark, repetitive_dir):
    rows = dedup_exact_substring_removelist(spark, repetitive_dir).collect()
    assert rows, "shared run must flag both docs"
    for r in rows:
        assert 0.0 < r["frac_flagged"] <= 1.0
        assert r["chars_flagged"] <= 52


def test_clean_stats_matches_removelist_rollup(spark, repetitive_dir):
    # round-15 optimization: clean_stats computes its per-doc cut from
    # the shared interval-union core (_exsub_merged_ranges) instead of
    # running the removelist's docs join only to discard it — the two
    # paths must stay numerically identical
    per_doc = {
        r["doc_id"]: r["chars_flagged"]
        for r in dedup_exact_substring_removelist(
            spark, repetitive_dir
        ).collect()
    }
    stats = dedup_exact_substring_clean_stats(
        spark, repetitive_dir
    ).collect()
    assert stats
    for s in stats:
        assert s["chars_cut"] == sum(per_doc.values())
        assert s["chars_retained"] == s["chars_total"] - s["chars_cut"]
        assert s["docs_flagged"] == len(per_doc)


@pytest.fixture(scope="module")
def two_runs_same_diag_dir(spark, tmp_path_factory):
    """Two docs sharing TWO disjoint non-repeating runs at the SAME
    relative offset (one diagonal, a pa gap between the runs) — the
    round-16 pair-keyed islands window must close a run on the pa gap."""
    import string

    run1 = (string.ascii_lowercase + string.digits)[:35]
    run2 = (string.ascii_uppercase + "!@#$%^&*(")[:35]
    texts = [
        "AB" + run1 + "CD" + run2 + "EF",
        "gh" + run1 + "ij" + run2 + "kl",
    ]
    return _write_docs(
        spark, tmp_path_factory.mktemp("exsub_gap"), texts
    )


@pytest.fixture(scope="module")
def two_runs_two_diags_dir(spark, tmp_path_factory):
    """Two docs sharing TWO disjoint runs at DIFFERENT relative offsets
    (two diagonals inside one pair) — the round-16 islands window orders
    by (diag, pa) within the pair, so a diag change must close a run even
    when the pa sequence happens to continue."""
    import string

    run1 = (string.ascii_lowercase + string.digits)[:35]
    run2 = (string.ascii_uppercase + "!@#$%^&*(")[:35]
    texts = [
        "AB" + run1 + "CD" + run2 + "EF",
        "ghi" + run1 + "jklmn" + run2 + "op",
    ]
    return _write_docs(
        spark, tmp_path_factory.mktemp("exsub_diags"), texts
    )


def _assert_two_35char_spans(rows):
    assert len(rows) == 1
    r = rows[0]
    assert r["n_spans"] == 2
    assert r["max_span_chars"] == 35
    assert r["shared_chars"] == 70


def test_two_runs_same_diag_split_on_pa_gap(spark, two_runs_same_diag_dir):
    _assert_two_35char_spans(
        dedup_exact_substring(spark, two_runs_same_diag_dir).collect()
    )


def test_two_runs_two_diags_split_on_diag_change(
    spark, two_runs_two_diags_dir
):
    _assert_two_35char_spans(
        dedup_exact_substring(spark, two_runs_two_diags_dir).collect()
    )


def test_plain_shared_run_full_length(spark, plain_dir):
    # non-repeating shared text anchors at every offset: the diagonal
    # islands merge back to the FULL 40-char extent, one span per pair
    rows = dedup_exact_substring(spark, plain_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_spans"] == 1
    assert r["max_span_chars"] == 40
    assert r["shared_chars"] == 40


@pytest.fixture(scope="module")
def three_docs_one_run_dir(spark, tmp_path_factory):
    """Three docs sharing one 40-char non-repeating run at the same
    offset: every doc sits in two pairs, so two DISTINCT pairs emit the
    identical (doc_id, s, e) interval for it."""
    import string

    run = (string.ascii_letters + string.digits)[:40]
    texts = ["HEAD0" + run + "X0", "head1" + run + "y1", "hEaD2" + run + "Z2"]
    return _write_docs(spark, tmp_path_factory.mktemp("exsub_three"), texts)


def test_duplicate_intervals_from_distinct_pairs_merge_once(
    spark, three_docs_one_run_dir
):
    # the interval union keeps no DISTINCT over interval rows; duplicate
    # rows must neither add ranges nor add cut characters
    spans = _exsub_spans(spark, three_docs_one_run_dir).collect()
    assert len({(r["a_id"], r["b_id"]) for r in spans}) == 3
    intervals = [(r["a_id"], r["sa"], r["ea"]) for r in spans] + [
        (r["b_id"], r["sa"] - r["diag"], r["ea"] - r["diag"]) for r in spans
    ]
    assert len(intervals) == 6 and len(set(intervals)) == 3

    rows = dedup_exact_substring_removelist(
        spark, three_docs_one_run_dir
    ).collect()
    assert sorted(
        (r["doc_id"], r["n_ranges"], r["chars_flagged"]) for r in rows
    ) == [(0, 1, 40), (1, 1, 40), (2, 1, 40)]
    (stats,) = dedup_exact_substring_clean_stats(
        spark, three_docs_one_run_dir
    ).collect()
    assert stats["docs_flagged"] == 3
    assert stats["chars_cut"] == 120

