"""Spark-free pinning of kernel/spanbatch.py::extract_span_batch, the
one span core behind both extraction operators, against a per-span
reference built from extract_html: media pass-through, the empty/null
drop, oversize and kernel-exception quarantine, the classifier/residue
split, and the group skip of doomed residue spans."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from html_qt_spark.kernel import spanbatch  # noqa: E402
from html_qt_spark.kernel.extractor import extract_html  # noqa: E402
from html_qt_spark.kernel.spanbatch import (  # noqa: E402
    QUARANTINE_KIND,
    extract_span_batch,
)
from tests.test_trivialspans import BENCH_SHAPES  # noqa: E402

MARKER = "<p>raise here</p><b>"

SPANS = [
    # (kind, text, media_ref)
    ("text", "<p>a b</p>", None),
    ("text", None, None),
    ("text", "", None),
    ("media", None, "img://1"),
    ("media", "<p>hello world</p>", "img://2"),    # phantom-row trap
    ("media", "<div><p>x</p></div>", "img://3"),
    ("text", "<p>caf\u00e9 na\u00efve \u2603</p>", None),
    ("text", "<p>\u00e9\u00e9\u00e9\u00e9\u00e9\u00e9</p>", None),
    ("text", "<table><tr><td>cell</td></tr></table>", None),
    ("text", '<h1>t</h1><nav><a href="/x">l</a></nav>', None),
    ("text", "<p>a &amp; b</p>", None),
    ("weird", "<p>k</p>", None),
    (None, "<li>null kind</li>", None),
    ("text", "<p>" + "w " * 40 + "</p>", None),
    ("text", MARKER, None),
    ("text", "<td>cell <img src='m://x' alt='pic'></td>", None),
] + [("text", s, None) for s in BENCH_SHAPES]

MODES = [
    {},
    {"reference_compat": True},
    {"fragment_context": "td"},
    {"min_words": 2, "max_link_density": 0.0},
]


@pytest.fixture
def poisoned(monkeypatch):
    """The core's extract_html, raising on MARKER and recording every
    span it is asked to parse."""
    calls: list = []

    def stub(html, **kw):
        calls.append(html)
        if html in (MARKER, MARKER.encode()):
            raise RuntimeError("boom")
        return extract_html(html, **kw)

    monkeypatch.setattr(spanbatch, "extract_html", stub)
    return calls


def _arrays(spans, text_type=pa.string()):
    kinds, texts, refs = zip(*spans) if spans else ([], [], [])
    return (pa.array(kinds, pa.string()), pa.array(texts, text_type),
            pa.array(refs, pa.string()))


def _rows(rb):
    return sorted(zip(*(rb.column(i).to_pylist() for i in range(5))),
                  key=lambda r: (r[0], r[1]))


def _reference(spans, *, max_span_bytes=None, **kw):
    """One span at a time, straight from the kernel (through the
    core's, possibly poisoned, extract_html)."""
    rows = []
    for j, (kind, text, ref) in enumerate(spans):
        if kind == "media":
            if isinstance(text, bytes):
                text = text.decode("utf-8", "replace")
            rows.append((j, 0, "media", text, ref))
            continue
        if not text:
            continue
        if max_span_bytes and len(text) > max_span_bytes:
            rows.append((j, 0, QUARANTINE_KIND,
                         f"ValueError:oversize-span:{len(text)}", None))
            continue
        try:
            res = spanbatch.extract_html(text, **kw)
        except Exception as exc:  # noqa: BLE001
            rows.append((j, 0, QUARANTINE_KIND,
                         f"{type(exc).__name__}:{exc}"[:512], None))
            continue
        rows += [(j, i, k, t, m) for i, (k, t, m) in enumerate(res)]
    return sorted(rows, key=lambda r: (r[0], r[1]))


@pytest.mark.parametrize("mode", MODES, ids=lambda m: str(m) or "default")
def test_core_matches_per_span_reference(mode, poisoned):
    got = _rows(extract_span_batch(*_arrays(SPANS), **mode))
    assert got == _reference(SPANS, **mode)
    # Spark ships large_string under arrow.useLargeVarTypes
    assert _rows(extract_span_batch(
        *_arrays(SPANS, pa.large_string()), **mode)) == got
    assert (14, 0, QUARANTINE_KIND, "RuntimeError:boom", None) in got
    # media text is never parsed, whatever grammar it matches
    assert not {t for k, t, _ in SPANS if k == "media"} & set(poisoned)


def test_classifier_tier_only_in_plain_mode(poisoned):
    """BENCH_SHAPES are all in the batch classifier's grammar: in plain
    mode they never reach the residue; compat and fragment modes switch
    the classifier off, so every text span is parsed."""
    texts = [t for k, t, _ in SPANS if k != "media" and t]
    extract_span_batch(*_arrays(SPANS))
    assert not set(BENCH_SHAPES) & set(poisoned)
    for mode in MODES[1:3]:
        poisoned.clear()
        extract_span_batch(*_arrays(SPANS), **mode)
        assert sorted(poisoned) == sorted(texts), mode


@pytest.mark.parametrize("mode", MODES[:3],
                         ids=lambda m: str(m) or "default")
def test_oversize_counts_code_points(mode):
    got = _rows(extract_span_batch(*_arrays(SPANS), max_span_bytes=14,
                                   **mode))
    assert got == _reference(SPANS, max_span_bytes=14, **mode)
    # "<p>éééééé</p>": 13 code points, 19 bytes — not oversize
    assert all(r[2] != QUARANTINE_KIND for r in got if r[0] == 7)
    assert (13, 0, QUARANTINE_KIND, "ValueError:oversize-span:87",
            None) in got


def test_binary_text_array(poisoned):
    """BinaryType text: every text span is encoding-sniffed by
    extract_html, oversize counts bytes, media bytes decode as UTF-8
    with replacement."""
    spans = SPANS + [
        ("text", '<meta charset="windows-1252"><p>caf\xe9</p>'
         .encode("windows-1252"), None),
        ("text", "\ufeff<p>utf16 doc</p>".encode("utf-16-le"), None),
        ("media", b"bad \xff utf-8", "img://9"),
    ]
    binary = [(k, t.encode() if isinstance(t, str) else t, r)
              for k, t, r in spans]
    got = _rows(extract_span_batch(*_arrays(binary, pa.binary())))
    assert len(poisoned) == sum(1 for k, t, _ in spans
                                if k != "media" and t)
    assert got == _reference(binary)
    assert (len(spans) - 3, 0, "text", "caf\u00e9", None) in got
    assert (len(spans) - 1, 0, "media", "bad \ufffd utf-8",
            "img://9") in got
    got = _rows(extract_span_batch(*_arrays(binary, pa.binary()),
                                   max_span_bytes=14))
    assert got == _reference(binary, max_span_bytes=14)
    assert (7, 0, QUARANTINE_KIND, "ValueError:oversize-span:19",
            None) in got


def test_group_skips_doomed_residue_spans(poisoned):
    """A failing span dooms the later spans of its group: they are never
    parsed, and the lowest failing span of the group — the first
    failure's message — leads the group's quarantine rows."""
    spans = [
        ("text", "<p>before <b>x</b></p>", None),   # g0: parsed
        ("text", MARKER, None),                     # g0: fails first
        ("text", "<p>after <b>y</b></p>", None),    # g0: never parsed
        ("text", "<p>" + "z" * 50 + "</p>", None),  # g0: oversize
        ("text", "<p>other <b>doc</b></p>", None),  # g1: parsed
        ("text", "<p>" + "z" * 50 + "</p>", None),  # g2: oversize first
        ("text", "<p>late <b>w</b></p>", None),     # g2: never parsed
        ("text", "<p>plain</p>", None),             # g2: classifier row
    ]
    out = extract_span_batch(*_arrays(spans), group=[0, 0, 0, 0, 1, 2, 2, 2],
                             max_span_bytes=40)
    assert poisoned == [spans[j][1] for j in (0, 1, 4)]
    rows = out.to_pylist()
    quarantined = [(r["span"], r["text"]) for r in rows
                   if r["kind"] == QUARANTINE_KIND]
    assert quarantined == [(1, "RuntimeError:boom"),
                           (3, "ValueError:oversize-span:57"),
                           (5, "ValueError:oversize-span:57")]
    assert {r["span"] for r in rows} == {0, 1, 3, 4, 5, 7}
    # without groups each span stands alone and every one is parsed
    poisoned.clear()
    extract_span_batch(*_arrays(spans), max_span_bytes=40)
    assert poisoned == [spans[j][1] for j in (0, 1, 2, 4, 6)]


def test_empty_batch():
    out = extract_span_batch(*_arrays([]), group=[], max_span_bytes=10)
    assert out.num_rows == 0 and out.schema.names == spanbatch.OUT_NAMES
