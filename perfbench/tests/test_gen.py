"""Tests of the benchmark's input generator and reference checks.

Run from the repository root:  python3 -m pytest perfbench/tests -q
No Spark session is started; the kernel tiers classify spans directly.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen

N = 600
REPLICATION = 2


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    out = {}
    for workload in gen.WORKLOADS:
        d = tmp_path_factory.mktemp(workload)
        out[workload] = (d, gen.generate(workload, 7, N, d, REPLICATION))
    return out


def _files(d):
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    gen.generate(workload, 7, N, tmp_path / "a")
    gen.generate(workload, 7, N, tmp_path / "b")
    gen.generate(workload, 8, N, tmp_path / "c")
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]
    assert a["spans.parquet"] != c["spans.parquet"]


def _text_spans(d):
    spans = pq.read_table(d / "spans.parquet").to_pydict()
    return [t for k, t in zip(spans["kind"], spans["text"])
            if k == "text" and t]


def _tiers(texts):
    """Tier that handles each span, as extract_html's cascade does."""
    from html_qt_spark.kernel.fastparse import fast_extract
    from html_qt_spark.kernel.trivialbatch import vec_trivial

    accepted = vec_trivial(pa.array(texts))[0]
    return ["trivial" if a else
            "fastparse" if fast_extract(t) is not None else "spec"
            for t, a in zip(texts, accepted)]


def test_crawl_clean_is_all_trivial_grammar(inputs):
    d, _ = inputs["crawl_clean"]
    assert set(_tiers(_text_spans(d))) == {"trivial"}


def test_crawl_messy_tier_shares_within_bands(inputs):
    d, _ = inputs["crawl_messy"]
    tiers = _tiers(_text_spans(d))
    for tier, (lo, hi) in gen.MESSY_BANDS.items():
        share = tiers.count(tier) / len(tiers)
        assert lo <= share <= hi, (tier, share)


def test_every_messy_template_lands_in_its_tier():
    import random

    rng = random.Random(0)
    for (pos, tier), templates in gen.TEMPLATES.items():
        for template in templates:
            html = gen._fill(template, 97, "en", gen._words(rng), rng)
            assert _tiers([html]) == [tier], (pos, tier, template)


def test_crawl_clean_pages_match_the_sources_sql(inputs):
    duckdb = pytest.importorskip("duckdb")
    from html_qt_spark.sources.interleaved import INTERLEAVED_SPANS_SQL

    d, _ = inputs["crawl_clean"]
    con = duckdb.connect()
    con.register("docs", pq.read_table(d / "documents.parquet"))
    # the replication sources.interleaved.register_documents applies
    con.execute(
        "CREATE VIEW documents AS SELECT d.doc_id + r.range * "
        f"{gen.REPLICA_STRIDE} AS doc_id, d.text, d.lang, d.source "
        f"FROM docs d, range({REPLICATION}) r")
    want = set(con.execute(
        "SELECT doc_id, \"offset\", kind, text, media_ref FROM ("
        + INTERLEAVED_SPANS_SQL + ")").fetchall())
    spans = pq.read_table(d / "spans.parquet").to_pydict()
    got = set(zip(spans["doc_id"], spans["offset"], spans["kind"],
                  spans["text"], spans["media_ref"]))
    assert got == want


def test_pages_nest_the_spans(inputs):
    for d, summary in inputs.values():
        pages = pq.read_table(d / "pages.parquet").to_pylist()
        assert len(pages) == N * REPLICATION == summary["n_pages"]
        assert sum(len(p["spans"]) for p in pages) == summary["n_spans"]


def test_crawl_clean_reports_its_true_pairs(inputs):
    d, summary = inputs["crawl_clean"]
    pairs = pq.read_table(d / "pairs.parquet").to_pydict()
    docs = pq.read_table(d / "documents.parquet").to_pydict()
    n_copy = int(N * gen.COPY_SHARE)
    assert summary["true_pairs"] == len(pairs["doc_a"]) == n_copy
    texts = docs["text"]
    exact = 0
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        assert a < b
        assert j == pytest.approx(gen.jaccard(texts[a], texts[b]))
        exact += texts[a] == texts[b]
    assert exact == int(n_copy * gen.EXACT_SHARE)
    assert inputs["crawl_messy"][1]["true_pairs"] == 0


def test_reference_rows_follow_the_operator_contract():
    spans = [("7", 2, "media", None, "img://x"),
             ("7", 0, "text", "<p>one two</p><nav>skip</nav>", None),
             ("7", 1, "text", "", None),
             ("7", 3, "text", "<p>a &amp; b</p>", None)]
    assert check.reference_rows(spans) == {
        ("7", 0, "text", "one two", None, 0),
        ("7", 1, "media", None, "img://x", 2),
        ("7", 2, "text", "a & b", None, 3),
    }


def test_lsh_check_flags_missed_exact_copies_and_low_recall():
    truth = [(1, 2, 1.0), (3, 4, 0.9)]
    ok = check.lsh_check([(1, 2), (3, 4), (5, 6)], truth)
    assert ok["bad"] == set()
    assert ok["recall"] == 1.0 and ok["true_pair_share"] == 2 / 3
    assert check.lsh_check([(3, 4)], truth)["bad"] == {1, 2}
    assert check.lsh_check([(1, 2)], truth)["bad"] == {3, 4}
    assert check.lsh_check([(2, 1)], [])["bad"] == {1, 2}


def test_exact_dedup_check():
    ids, texts = [1, 2, 3], ["x y", "x y", "z"]
    import hashlib
    fp = {t: hashlib.md5(t.encode()).hexdigest() for t in texts}
    good = [(fp["x y"], 2, 1), (fp["z"], 1, 3)]
    assert check.exact_dedup_failures(good, ids, texts) == set()
    wrong = [(fp["x y"], 2, 2), (fp["z"], 1, 3)]
    assert check.exact_dedup_failures(wrong, ids, texts) == {1, 2}


def test_parse_metric_units():
    from perfbench.sparkstats import parse_metric

    assert parse_metric("total (min, med, max)\n2.5 s (1 s, 1 s, 1 s)") \
        == 2.5
    assert parse_metric("total (min, med, max)\n120 ms (1 ms)") == 0.12
    assert parse_metric("total\n2.0 MiB (1 KiB)") == 2.0
    assert parse_metric("100,000") == 100000


def test_page_docs_builds_pages_for_the_first_documents(tmp_path):
    summary = gen.generate("crawl_messy", 7, N, tmp_path, 2, page_docs=50)
    assert summary["n_docs"] == N and summary["n_pages"] == 100
    pages = pq.read_table(tmp_path / "pages.parquet",
                          columns=["doc_id"]).column(0).to_pylist()
    assert {int(p) % gen.REPLICA_STRIDE for p in pages} == set(range(50))
