"""Pinning of the Arrow-vectorized batch extraction (kernel/trivialbatch
+ the span core kernel/spanbatch behind operators/extract) against the
exact spec pipeline.  vec_trivial is compared directly with
extract_spans(parse(...)) — NOT with the Python trivial path — so an
RE2-vs-Python-re acceptance difference can only surface as a fallback,
never as a divergence.  The Spark-level tests pin the full operators
(including quarantine, media pass-through, span_idx numbering and
parameter threading) against a per-row reference computed with the
kernel."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel.trivialbatch import vec_trivial  # noqa: E402
from tests.test_trivialspans import (  # noqa: E402
    BENCH_SHAPES,
    _random_trivial,
    slow_extract,
)


def _vec_spans(texts: list, min_words: int = 1,
               max_link_density: float = 0.5):
    import pyarrow as pa

    res = vec_trivial(pa.array(texts, pa.string()),
                      min_words=min_words,
                      max_link_density=max_link_density)
    if res is None:
        return None
    accepted, norm_kept, kept_span = res
    per = [[] for _ in texts]
    for s, t in zip(kept_span, norm_kept.to_pylist()):
        per[int(s)].append(("text", t, None))
    return [per[j] if accepted[j] else None for j in range(len(texts))]


def test_bench_shapes_vectorized():
    out = _vec_spans(BENCH_SHAPES)
    for s, got in zip(BENCH_SHAPES, out):
        assert got is not None, f"vec path rejected: {s[:60]}"
        assert got == slow_extract(s), s


def test_nulls_and_rejects():
    texts = [None, "", "<p>a &amp; b</p>", "<p>ok text</p>",
             "<P>upper</P>", "plain"]
    out = _vec_spans(texts)
    assert out[0] is None and out[1] is None and out[2] is None
    assert out[3] == [("text", "ok text", None)]
    assert out[4] is None and out[5] is None


def test_negative_link_density_disables():
    import pyarrow as pa

    assert vec_trivial(pa.array(["<p>x</p>"]),
                       min_words=1, max_link_density=-0.5) is None


def test_min_words_vectorized():
    texts = ["<p>one</p>", "<p>two words</p>", "<p>a b c</p>",
             "<div>x<p>b b</p></div>"]
    for mw in (1, 2, 3):
        out = _vec_spans(texts, min_words=mw)
        for s, got in zip(texts, out):
            if got is not None:
                assert got == slow_extract(s, min_words=mw), (s, mw)


def test_randomized_corpora_vs_full_pipeline():
    from tests.test_fastparse_differential import _random_doc

    rng = random.Random(20260824)
    docs = [_random_trivial(rng) for _ in range(3000)]
    docs += [_random_doc(rng) for _ in range(1500)]
    docs = [d for d in docs if d]
    out = _vec_spans(docs)
    n_acc = 0
    for d, got in zip(docs, out):
        if got is None:
            continue
        n_acc += 1
        assert got == slow_extract(d), d
    assert n_acc > 1500, n_acc


# ---------------- Spark-level operator pinning ----------------


@pytest.fixture(scope="module")
def spark():
    from html_qt_spark.plans.session import get_spark

    s = get_spark(cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


EDGE_DOCS = [
    # (doc_id, [(kind, text, media_ref, offset)])
    ("d1", [("text", "<p>a b</p>", None, 0),
            ("media", None, "img://1", 1),
            ("text", "<table><tr><td>x</td></tr></table>", None, 2),
            ("text", "<!DOCTYPE html><p>doc <b>type</b></p>", None, 3)]),
    ("d2", [("text", "", None, 0), ("text", None, None, 1)]),
    ("d3", [("weird", "<p>k</p>", None, 0),
            ("media", "alt text", "img://2", 1),
            ("text", '<h1>t</h1><nav><a href="/x">l</a></nav>', None, 2),
            ("text", "<p>a &amp; b</p>", None, 3)]),
    ("d4", [("text", "<div><p>deep</p><footer>f</footer></div>", None, 0),
            ("text", "<p>" + "w " * 40 + "</p>", None, 1)]),
    ("d5", []),
    ("d6", None),
    ("d7", [("text", "<p>no offset</p>", None, None),
            ("media", None, "img://7", 3)]),
]


def _mk_nested(spark, docs):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]))),
    ])
    return spark.createDataFrame(
        [(d, None if spans is None else [tuple(s) for s in spans])
         for d, spans in docs], schema)


def _expected_doc_rows(docs, *, max_span_bytes=None, **kw):
    """Reference semantics of extract_spans_doc, straight from the
    kernel, one document at a time; ``kw`` goes to extract_html."""
    from html_qt_spark.kernel.extractor import extract_html
    from html_qt_spark.operators.extract import QUARANTINE_KIND

    rows = []
    for doc_id, spans in docs:
        if spans is None:
            continue
        out = []
        idx = 0
        try:
            for kind, text, ref, offset in spans:
                if kind == "media":
                    out.append((doc_id, idx, "media", text, ref, offset))
                    idx += 1
                    continue
                if not text:
                    continue
                if max_span_bytes and len(text) > max_span_bytes:
                    raise ValueError(f"oversize-span:{len(text)}")
                for k, t, m in extract_html(text, **kw):
                    out.append((doc_id, idx, k, t, m, offset))
                    idx += 1
        except Exception as exc:  # noqa: BLE001
            out = [(doc_id, 0, QUARANTINE_KIND,
                    f"{type(exc).__name__}:{exc}"[:512], None, 0)]
        rows.extend(out)
    return sorted(rows, key=lambda r: (r[0], r[1], str(r[2])))


def _collect6(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda r: (r[0], r[1], str(r[2])))


def test_spark_doc_mode_edges(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, EDGE_DOCS)
    assert _collect6(extract_spans_doc(df)) == _expected_doc_rows(EDGE_DOCS)


def test_spark_doc_mode_oversize_quarantine(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, EDGE_DOCS)
    got = _collect6(extract_spans_doc(df, max_span_bytes=30))
    assert got == _expected_doc_rows(EDGE_DOCS, max_span_bytes=30)


def test_spark_doc_mode_params(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, EDGE_DOCS)
    for kw in ({"min_words": 2, "max_link_density": 0.0},
               {"reference_compat": True},
               {"fragment_context": "td"}):
        assert _collect6(extract_spans_doc(df, **kw)) == \
            _expected_doc_rows(EDGE_DOCS, **kw), kw


MEDIA_TRAP_DOCS = [
    # media spans whose TEXT matches the trivial grammar: the batch
    # classifier sees every value in the column, so these must not leak
    # phantom 'text' rows (review finding; fixed via filter_blocks)
    ("m1", [("media", "<p>hello world</p>", "img://1", 0),
            ("text", "<p>tail</p>", None, 1)]),
    ("m2", [("media", "<div><p>x</p></div>", "img://2", 0)]),
    ("m3", [("text", "<p>lead</p>", None, 0),
            ("media", "<h1>t</h1>", "vid://3", 1),
            ("text", "<p>end</p>", None, 2)]),
]


def test_media_text_matching_grammar_doc_mode(spark):
    from html_qt_spark.operators.extract import extract_spans_doc

    df = _mk_nested(spark, MEDIA_TRAP_DOCS)
    assert _collect6(extract_spans_doc(df)) == \
        _expected_doc_rows(MEDIA_TRAP_DOCS)


def test_media_text_matching_grammar_exploded(spark):
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_spans_exploded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ])
    flat = [(d, s[3], s[0], s[1], s[2])
            for d, spans in MEDIA_TRAP_DOCS for s in spans]
    got = _collect6(extract_spans_exploded(
        spark.createDataFrame(flat, schema)))
    assert got == _expected_doc_rows(MEDIA_TRAP_DOCS)


def test_nan_link_density_falls_back():
    """NaN threshold: every comparison is False, so the full pipeline
    drops all blocks — the closed-form paths must decline, not keep
    them."""
    import math

    from html_qt_spark.kernel.trivialspans import trivial_extract

    assert trivial_extract("<p>a b</p>",
                           max_link_density=math.nan) is None
    import pyarrow as pa

    assert vec_trivial(pa.array(["<p>a b</p>"]),
                       min_words=1, max_link_density=math.nan) is None
    assert slow_extract("<p>a b</p>", max_link_density=math.nan) == []


def test_spark_exploded_mode_edges(spark):
    from pyspark.sql import types as T

    from html_qt_spark.operators.extract import extract_spans_exploded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ])
    flat = [(d, s[3], s[0], s[1], s[2])
            for d, spans in EDGE_DOCS for s in spans or []]
    df = spark.createDataFrame(flat, schema)
    got = _collect6(extract_spans_exploded(df))
    # exploded mode numbers spans per doc through its window — same
    # final contract as doc mode on non-quarantined docs; quarantine is
    # per SPAN here, so build the expectation span-wise
    from html_qt_spark.kernel.extractor import extract_html

    exp = []
    for doc_id, spans in EDGE_DOCS:
        out = []
        for kind, text, ref, offset in spans or []:
            if kind == "media":
                out.append(("media", text, ref, offset))
                continue
            if not text:
                continue
            for k, t, m in extract_html(text):
                out.append((k, t, m, offset))
        for i, (k, t, m, o) in enumerate(out):
            exp.append((doc_id, i, k, t, m, o))
    assert got == sorted(exp, key=lambda r: (r[0], r[1], str(r[2])))
