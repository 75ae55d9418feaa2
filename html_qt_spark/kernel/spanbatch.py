"""Span-batch extraction: the one implementation behind both Spark
extraction operators.

Input is three flat, equally long pyarrow arrays — span kinds, texts
and media refs — that may cover many documents (the columnar form of
the reference's per-document token stream, SURVEY §1).  The function
decides which spans produce which output rows:

- ``media`` spans pass through as one row (binary text is decoded as
  UTF-8 with replacement);
- empty and null text spans produce nothing;
- text spans longer than ``max_span_bytes`` (code points; bytes for a
  binary column) fail without being parsed;
- text spans the RE2 batch classifier accepts (kernel/trivialbatch.py)
  are extracted without becoming Python objects;
- every other text span runs through :func:`extract_html`, and a
  kernel exception makes the span fail.

The classifier only covers plain-document parsing of string text, so
``reference_compat``, a ``fragment_context`` or a binary text column
(which :func:`extract_html` encoding-sniffs) send every text span to
the residue.

A failing span yields one ``QUARANTINE_KIND`` row whose text is the
reason.  ``group`` tells which spans share a fate (the document index
in doc mode): the residue walks spans in ascending index and skips the
spans of a group that failed at a lower index, so work whose rows the
caller would discard is never done — while spans before the first
failure still run, so their own earlier failure wins.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .extractor import extract_html
from .trivialbatch import filter_blocks, vec_trivial

QUARANTINE_KIND = "__quarantine__"

OUT_NAMES = ["span", "ordinal", "kind", "text", "media_ref"]


def _mask(arr) -> np.ndarray:
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def extract_span_batch(kinds, texts, refs, *, group=None,
                       reference_compat: bool = False,
                       max_link_density: float = 0.5,
                       min_words: int = 1,
                       max_span_bytes: int | None = None,
                       fragment_context: str | None = None
                       ) -> pa.RecordBatch:
    """Extract a flat batch of spans (see the module docstring).

    ``kinds``/``refs`` are string arrays, ``texts`` a string or binary
    array, all of one length n; ``group`` is an int array of length n
    (default: every span its own group).

    Returns a record batch with columns ``span`` (int64 input index),
    ``ordinal`` (int32 position among that span's rows), ``kind``,
    ``text`` and ``media_ref``.  (span, ordinal) orders the rows; the
    batch itself is grouped by tier, with the quarantine rows last and
    in ascending span order.  A failing span has only its quarantine
    row (ordinal 0); other spans of its group keep theirs.
    """
    n = len(kinds)
    str_ty = pa.string()
    is_str = pa.types.is_string(texts.type) \
        or pa.types.is_large_string(texts.type)
    grp = np.arange(n) if group is None else np.asarray(group, np.int64)

    media = _mask(pc.equal(kinds, "media"))
    text_ok = _mask(pc.greater(pc.binary_length(texts), 0)) & ~media

    fails: dict[int, str] = {}
    oversize = np.zeros(n, dtype=bool)
    if max_span_bytes:
        lens = pc.fill_null(
            pc.utf8_length(texts) if is_str else pc.binary_length(texts),
            0).to_numpy(zero_copy_only=False)
        oversize = text_ok & (lens > max_span_bytes)
        for j in np.flatnonzero(oversize):
            # the length comes from the vectorized scan: the (by
            # definition huge) span never becomes a Python object
            fails[int(j)] = f"ValueError:oversize-span:{int(lens[j])}"

    accepted = np.zeros(n, dtype=bool)
    norm_kept = pa.array([], str_ty)
    kept_span = within = np.empty(0, np.int64)
    vec = None
    if is_str and not reference_compat and fragment_context is None:
        vec = vec_trivial(texts, min_words=min_words,
                          max_link_density=max_link_density)
    if vec is not None:
        accepted, norm_kept, kept_span = vec
        accepted = accepted & text_ok & ~oversize
        # vec_trivial classified EVERY value, media text included: drop
        # the blocks of spans the masks just rejected (phantom rows)
        norm_kept, kept_span, within = filter_blocks(
            norm_kept, kept_span, accepted)

    # lowest failing span index per group; n = none yet
    first_fail = np.full(int(grp.max()) + 1 if n else 0, n, np.int64)
    if fails:
        failed = np.fromiter(fails, np.int64, len(fails))
        np.minimum.at(first_fail, grp[failed], failed)
    py_idx = np.flatnonzero(text_ok & ~accepted & ~oversize
                            & (np.arange(n) < first_fail[grp]))
    p_span: list[int] = []
    p_ord: list[int] = []
    p_kind: list[str] = []
    p_text: list[str | None] = []
    p_ref: list[str | None] = []
    for j, html in zip(py_idx.tolist(),
                       pc.take(texts, pa.array(py_idx)).to_pylist()):
        g = grp[j]
        if first_fail[g] < j:
            continue  # an earlier span of this group failed meanwhile
        try:
            res = extract_html(html, reference_compat=reference_compat,
                               max_link_density=max_link_density,
                               min_words=min_words,
                               fragment_context=fragment_context)
        except Exception as exc:  # noqa: BLE001 — poison pill
            fails[j] = f"{type(exc).__name__}:{exc}"[:512]
            first_fail[g] = j
            continue
        for i, (k, t, m) in enumerate(res):
            p_span.append(j)
            p_ord.append(i)
            p_kind.append(k)
            p_text.append(t)
            p_ref.append(m)

    jm = np.flatnonzero(media)
    jm_pa = pa.array(jm)
    m_text = pc.take(texts, jm_pa)
    if not is_str:
        m_text = pa.array(
            [None if b is None else b.decode("utf-8", "replace")
             for b in m_text.to_pylist()], str_ty)
    q = sorted(fails)
    nm, nv, nq = len(jm), len(kept_span), len(q)
    span = np.concatenate([jm, kept_span, np.asarray(p_span, np.int64),
                           np.asarray(q, np.int64)])
    ordinal = np.concatenate([np.zeros(nm, np.int64), within,
                              np.asarray(p_ord, np.int64),
                              np.zeros(nq, np.int64)]).astype(np.int32)
    kind = pa.array(["media"] * nm + ["text"] * nv + p_kind
                    + [QUARANTINE_KIND] * nq, str_ty)
    text = pa.concat_arrays([
        m_text.cast(str_ty), norm_kept.cast(str_ty),
        pa.array(p_text, str_ty), pa.array([fails[j] for j in q], str_ty)])
    ref = pa.concat_arrays([
        pc.take(refs, jm_pa).cast(str_ty), pa.nulls(nv, str_ty),
        pa.array(p_ref, str_ty), pa.nulls(nq, str_ty)])
    return pa.RecordBatch.from_arrays(
        [pa.array(span, pa.int64()), pa.array(ordinal, pa.int32()),
         kind, text, ref], names=OUT_NAMES)
