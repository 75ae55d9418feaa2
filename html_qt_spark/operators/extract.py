"""Spark extraction operators: the vectorized Arrow path for the kernel.

Two physical strategies for the same logical op (BASELINE.json north_star:
"batch-tokenize raw HTML bytes ... emit ordered (kind,text,media_ref,offset)
spans per document"):

``extract_spans_doc``  — document-at-a-time ``mapInArrow``.  ZERO shuffles:
    each input row (doc_id, spans) maps to its output spans inside one Arrow
    batch.  This is the default path; at 10^12 docs the job is then scan →
    narrow map → write, and scales linearly with executors.

``extract_spans_exploded`` — span-at-a-time for skew: mega-documents whose
    spans are many/huge get their *spans* spread across tasks (explode is
    narrow), extraction runs per HTML fragment, and a single window restores
    per-document span numbering.  One shuffle (the window) buys per-span
    parallelism — use when doc-size skew stalls stragglers (SURVEY.md §4.2:
    value-computation skew AQE cannot see).

Both are thin ``mapInArrow`` wrappers around one Spark-free span core,
kernel/spanbatch.py::extract_span_batch, which decides which spans
produce which rows — no per-row Python UDFs (input_hint mandate).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from html_qt_spark.kernel.spanbatch import QUARANTINE_KIND

OUT_FIELDS = "doc_id string, span_idx int, kind string, text string, media_ref string, offset int"

OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])


def extract_spans_doc(df: DataFrame, *, reference_compat: bool = False,
                      max_link_density: float = 0.5,
                      min_words: int = 1,
                      max_span_bytes: int | None = None,
                      fragment_context: str | None = None) -> DataFrame:
    """(doc_id, spans) → (doc_id, span_idx, kind, text, media_ref, offset).

    Narrow transformation: no shuffle, no driver round-trip.  Input text
    spans run through the fused tokenize→tree→extract kernel; media spans
    pass through at their document position.  A null ``spans`` list
    yields no rows.

    ``fragment_context``: parse each text span with innerHTML semantics
    as the contents of that context element (WHATWG 13.4) — a crawl
    storing non-document snippets (table cells, option lists, svg
    islands) extracts them in their real context instead of through the
    full-document state machine.  Threads straight to the kernel
    (kernel/extractor.py::extract_html).

    Poison-pill policy (engine version of the reference's fatal
    no-progress guard, html-qt/htmltokenizer.cpp:66-80, made non-fatal —
    a 10^12-doc job must not die on one doc): a span larger than
    ``max_span_bytes`` or a kernel exception quarantines the DOCUMENT
    into one row with kind=QUARANTINE_KIND (reason of its first failing
    span in ``text``, span_idx and offset 0) instead of failing the task.
    """

    def process(batches):
        # import inside the worker so the kernel ships via --py-files
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from html_qt_spark.kernel.spanbatch import extract_span_batch

        for rb in batches:
            # the four lists are projections of one spans array, so they
            # share offsets and validity: flattening drops null lists
            # and keeps the spans aligned
            span_doc = pc.list_parent_indices(rb.column(1)).to_numpy()
            out = extract_span_batch(
                pc.list_flatten(rb.column(1)), pc.list_flatten(rb.column(2)),
                pc.list_flatten(rb.column(3)), group=span_doc,
                reference_compat=reference_compat,
                max_link_density=max_link_density, min_words=min_words,
                max_span_bytes=max_span_bytes,
                fragment_context=fragment_context)
            span = out.column(0).to_numpy()
            is_q = pc.equal(out.column(2), QUARANTINE_KIND).to_numpy(
                zero_copy_only=False)
            if is_q.any():
                # the document collapses to its first failure; the core
                # emits quarantine rows in ascending span order
                qi = np.flatnonzero(is_q)
                q_doc, first = np.unique(span_doc[span[qi]],
                                         return_index=True)
                keep = ~np.isin(span_doc[span], q_doc)
                keep[qi[first]] = True
                out = out.filter(pa.array(keep))
                span, is_q = span[keep], is_q[keep]
            doc = span_doc[span]
            # span_idx = rows of the document's earlier spans + ordinal
            n_out = np.bincount(span[~is_q], minlength=len(span_doc))
            before = np.concatenate(([0], np.cumsum(n_out)))
            base = before[span] - before[np.searchsorted(span_doc, doc)]
            span_idx = np.where(is_q, 0, base + out.column(1).to_numpy())
            offset = pc.take(pc.list_flatten(rb.column(4)), out.column(0))
            if is_q.any():
                offset = pc.if_else(pa.array(is_q), 0, offset)
            yield pa.RecordBatch.from_arrays(
                [pc.take(rb.column(0), pa.array(doc)).cast(pa.string()),
                 pa.array(span_idx.astype(np.int32), pa.int32()),
                 out.column(2), out.column(3), out.column(4),
                 offset.cast(pa.int32())],
                names=["doc_id", "span_idx", "kind", "text",
                       "media_ref", "offset"])

    # Flatten array<struct> into four parallel primitive arrays BEFORE the
    # Arrow boundary: Arrow conversion of array<struct> builds one Python
    # dict per span (measured ~2.5x the whole kernel cost); four primitive
    # list columns convert as flat buffers.  JVM-side projection, still
    # zero shuffles.
    flat = df.select(
        "doc_id",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
        F.col("spans.offset").alias("_offsets"),
    )
    return flat.mapInArrow(process, schema=OUT_SCHEMA)


DOC_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_text_spans_in", T.IntegerType()),
    T.StructField("n_media_spans_in", T.IntegerType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("n_nodes", T.IntegerType()),
    T.StructField("n_parse_errors", T.IntegerType()),
    # '|'-joined sorted distinct codes: a metrics table carries scalar
    # columns so downstream sort/compare/export tooling never chokes on
    # list cells (array<string> broke the correctness harness in r1)
    T.StructField("error_codes", T.StringType()),
])


MARKDOWN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("n_segments", T.IntegerType()),
    T.StructField("quarantined", T.BooleanType()),
])


_MD_SPAN_SCHEMA = T.StructType([
    T.StructField("md", T.StringType()),
    T.StructField("err", T.StringType()),
])


@F.pandas_udf(_MD_SPAN_SCHEMA)
def _md_span(html: pd.Series) -> pd.DataFrame:
    """One HTML span → (markdown, err) — Arrow-batched, per-span
    poison-pill (err carries the quarantine message)."""
    from html_qt_spark.kernel.markdown import render_markdown
    from html_qt_spark.kernel.treebuilder import parse

    mds: list[str | None] = []
    errs: list[str | None] = []
    for doc in html:
        if not doc:
            mds.append(None)
            errs.append(None)
            continue
        try:
            mds.append(render_markdown(parse(doc)))
            errs.append(None)
        except Exception as exc:  # noqa: BLE001 — poison pill
            mds.append(None)
            errs.append(f"{type(exc).__name__}:{exc}"[:512])
    return pd.DataFrame({"md": mds, "err": errs})


def extract_markdown_exploded(df_exploded: DataFrame) -> DataFrame:
    """Skew path for Markdown rendering over the exploded span table
    (doc_id, offset, kind, text, media_ref): per-span rendering in a
    narrow pandas_udf, then ONE groupBy(doc_id) shuffle reassembles the
    document in offset order — same output contract as
    :func:`extract_markdown_doc` (equality pinned by
    tests/test_markdown.py).  Mega-documents parallelize across spans;
    a quarantined span quarantines its document (first failing span's
    message wins, n_segments=0), matching the doc-mode poison pill.
    """
    r = df_exploded.withColumn("_r", _md_span("text"))
    block = (F.when(F.col("kind") == "media",
                    F.when(F.col("media_ref").isNotNull(),
                           F.concat(F.lit("![]("), "media_ref",
                                    F.lit(")"))))
             .otherwise(F.col("_r.md")))
    rows = r.select(
        "doc_id", "offset",
        block.alias("_block"),
        F.col("_r.err").alias("_err"))
    agg = (rows.groupBy("doc_id")
           .agg(F.min(F.when(F.col("_err").isNotNull(),
                             F.struct("offset", "_err"))).alias("_q"),
                F.sort_array(F.collect_list(
                    F.when(F.col("_block").isNotNull()
                           & (F.col("_block") != ""),
                           F.struct("offset", "_block")))).alias("_bs")))
    quarantined = F.col("_q").isNotNull()
    return agg.select(
        "doc_id",
        F.when(quarantined, F.col("_q._err"))
        .otherwise(F.concat_ws("\n\n", F.col("_bs._block")))
        .alias("markdown"),
        F.when(quarantined, F.lit(0))
        .otherwise(F.size("_bs")).cast("int").alias("n_segments"),
        quarantined.alias("quarantined"))


def extract_markdown_doc(df: DataFrame, *,
                         max_span_bytes: int | None = None) -> DataFrame:
    """(doc_id, spans) → (doc_id, markdown, n_segments, quarantined):
    the structure-preserving Markdown rendering of each document
    (kernel/markdown.py spec) — headings, lists, tables, code fences,
    links/images — with media spans interleaved at their document
    position as image/link blocks.

    Same zero-shuffle shape as :func:`extract_spans_doc`: a narrow map
    (here ``mapInPandas``) over flattened primitive arrays, with
    document-level poison-pill quarantine.  One output row per document.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from html_qt_spark.kernel.markdown import render_markdown
        from html_qt_spark.kernel.treebuilder import parse

        for pdf in batches:
            doc_ids: list[str] = []
            mds: list[str | None] = []
            n_segments: list[int] = []
            quarantined: list[bool] = []
            for doc_id, s_kinds, s_texts, s_refs in zip(
                    pdf["doc_id"], pdf["_kinds"], pdf["_texts"],
                    pdf["_refs"]):
                if s_kinds is None:
                    continue
                blocks: list[str] = []
                try:
                    for kind, html, ref in zip(s_kinds, s_texts, s_refs):
                        if kind == "media":
                            if ref:
                                blocks.append(f"![]({ref})")
                            continue
                        if not html:
                            continue
                        if max_span_bytes and len(html) > max_span_bytes:
                            raise ValueError(f"oversize-span:{len(html)}")
                        md = render_markdown(parse(html))
                        if md:
                            blocks.append(md)
                    doc_ids.append(doc_id)
                    mds.append("\n\n".join(blocks))
                    n_segments.append(len(blocks))
                    quarantined.append(False)
                except Exception as exc:  # noqa: BLE001 — poison pill
                    doc_ids.append(doc_id)
                    mds.append(f"{type(exc).__name__}:{exc}"[:512])
                    n_segments.append(0)
                    quarantined.append(True)
            yield pd.DataFrame({
                "doc_id": doc_ids, "markdown": mds,
                "n_segments": n_segments, "quarantined": quarantined,
            })

    flat = df.select(
        "doc_id",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
    )
    return flat.mapInPandas(process, schema=MARKDOWN_SCHEMA)


def doc_parse_stats(df: DataFrame) -> DataFrame:
    """(doc_id, spans) → per-document parse metrics.

    The reference records errors as ParserErrorToken rows interleaved in
    the token stream (html-qt/htmltokenizer.cpp:94-101); the engine
    surfaces them as a metrics table instead (SURVEY.md §2.2): token
    count, DOM node count, parse-error count + distinct codes per doc.
    Narrow map, same zero-shuffle shape as extraction.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from html_qt_spark.kernel.tokenizer import HTMLTokenizer
        from html_qt_spark.kernel.treebuilder import TreeBuilder

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "n_text_spans_in",
                                    "n_media_spans_in", "n_tokens",
                                    "n_nodes", "n_parse_errors",
                                    "error_codes")}
            for doc_id, s_kinds, s_texts in zip(
                    pdf["doc_id"], pdf["_kinds"], pdf["_texts"]):
                n_text = n_media = n_tokens = n_nodes = 0
                codes: set[str] = set()
                n_errs = 0
                if s_kinds is not None:
                    for kind, html in zip(s_kinds, s_texts):
                        if kind == "media":
                            n_media += 1
                            continue
                        n_text += 1
                        if not html:
                            continue
                        if isinstance(html, (bytes, bytearray)):
                            from html_qt_spark.kernel.encoding import (
                                decode_html)
                            html = decode_html(bytes(html))
                        tk = HTMLTokenizer(html)
                        tokens, errors = tk.run()
                        n_tokens += len(tokens)
                        tb = TreeBuilder(collect_errors=True)
                        tb.process(tokens)
                        n_nodes += len(tb.tag) - 1
                        n_errs += len(errors) + len(tb.errors)
                        codes.update(c for c, _ in errors)
                        codes.update(tb.errors)
                rows["doc_id"].append(doc_id)
                rows["n_text_spans_in"].append(n_text)
                rows["n_media_spans_in"].append(n_media)
                rows["n_tokens"].append(n_tokens)
                rows["n_nodes"].append(n_nodes)
                rows["n_parse_errors"].append(n_errs)
                rows["error_codes"].append("|".join(sorted(codes)))
            yield pd.DataFrame(rows)

    flat = df.select(
        "doc_id",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
    )
    return flat.mapInPandas(process, schema=DOC_STATS_SCHEMA)


_EXPLODED_MID_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("_chunk", T.IntegerType()),
    T.StructField("_inner", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
])

# block-start tags are safe HTML cut points for the extractor: a block tag
# always flushes the open text block, so no emitted text span straddles a
# cut (chunk-extraction == whole-extraction on block-structured content)
_BLOCK_CUT_RX = (
    r"(?=<(?:p|div|h[1-6]|section|article|table|ul|ol|li|tr|blockquote|"
    r"header|footer|nav|aside|main|pre)[\s>/])")
# contexts where a literal "<p" inside them is NOT a real tag — a span
# containing any of these openers is never split (correctness over
# parallelism; the poison-pill/oversize quarantine still bounds it)
_UNSAFE_SPLIT_RX = (
    r"(?i)<(?:script|style|textarea|title|xmp|pre|iframe|noembed|"
    r"noframes|plaintext|svg|math)[\s>/]|<!--|<!\[CDATA\[")


def chunk_split_exploded(df_exploded: DataFrame, *,
                         threshold_bytes: int = 1 << 20,
                         target_chunk_bytes: int = 256 << 10) -> DataFrame:
    """Split oversized text spans into chunk rows (SURVEY §4.2 mega-doc
    path): one 1-GB span otherwise lands on ONE task — value-computation
    skew AQE cannot see, and the exact hazard the reference's no-progress
    guard (html-qt/htmltokenizer.cpp:66-80) aborts on.

    All JVM-side: regex-split at block-start tags (lookahead keeps the
    tag with its following chunk), greedy-pack pieces to
    ``target_chunk_bytes`` via a running-length window, reassemble each
    chunk with one groupBy.  Only spans > ``threshold_bytes`` that are
    free of raw-text/comment/foreign openers are split — anything else
    passes through whole, so splitting never changes extraction output
    on content it can't prove safe.  Output schema = input +
    ``_chunk:int`` ordering column, consumed by
    :func:`extract_spans_exploded`.

    The window+groupBy shuffle is keyed (doc_id, offset) and runs ONLY
    over the filtered mega-spans (a vanishing fraction of a crawl), so
    the common path stays shuffle-free.
    """
    from pyspark.sql import Window

    eligible = (
        (F.col("kind") == "text")
        & (F.length("text") > threshold_bytes)
        & (~F.col("text").rlike(_UNSAFE_SPLIT_RX))
    )
    passthrough = (df_exploded.where(~eligible | eligible.isNull())
                   .withColumn("_chunk", F.lit(0)))
    mega = df_exploded.where(eligible)
    pieces = mega.select(
        "doc_id", "offset", "kind", "media_ref",
        F.posexplode(F.split("text", _BLOCK_CUT_RX))
        .alias("_piece_idx", "_piece"),
    )
    w = (Window.partitionBy("doc_id", "offset").orderBy("_piece_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = pieces.withColumn(
        "_chunk",
        (F.coalesce(F.sum(F.length("_piece")).over(w), F.lit(0))
         / F.lit(target_chunk_bytes)).cast("int"))
    chunks = (
        packed.groupBy("doc_id", "offset", "kind", "media_ref", "_chunk")
        .agg(F.concat_ws(
            "",
            F.sort_array(F.collect_list(F.struct("_piece_idx", "_piece")))
            .getField("_piece")).alias("text"))
    )
    cols = ["doc_id", "offset", "kind", "text", "media_ref", "_chunk"]
    return passthrough.select(*cols).unionByName(chunks.select(*cols))


def extract_spans_exploded(df_exploded: DataFrame, *,
                           fragment_context: str | None = None
                           ) -> DataFrame:
    """Skew path over the exploded form (doc_id, offset, kind, text,
    media_ref[, _chunk]): per-span extraction + one window to number
    spans.  ``fragment_context`` as in :func:`extract_spans_doc`.

    Mega-documents parallelize across their spans; the window shuffle is
    keyed on doc_id so AQE's skew-join splitting and post-shuffle
    coalescing apply.  The UDF emits FLAT rows (no array<struct> build +
    posexplode round-trip — measured ~2x the kernel cost).

    A ``_chunk`` column (from :func:`chunk_split_exploded`) slots into
    the ordering between ``offset`` and the intra-fragment index, so
    chunked mega-spans renumber back into document order.
    """
    has_chunk = "_chunk" in df_exploded.columns
    if not has_chunk:
        df_exploded = df_exploded.withColumn("_chunk", F.lit(0))

    def process(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from html_qt_spark.kernel.spanbatch import extract_span_batch

        for rb in batches:
            # every span is its own group: a failure quarantines only
            # itself, and the window below orders on (offset, _chunk,
            # _inner), never on row order
            out = extract_span_batch(rb.column(3), rb.column(4),
                                     rb.column(5),
                                     fragment_context=fragment_context)
            row = out.column(0)
            yield pa.RecordBatch.from_arrays(
                [pc.take(rb.column(0), row).cast(pa.string()),
                 pc.take(rb.column(1), row).cast(pa.int32()),
                 pc.take(rb.column(2), row).cast(pa.int32()),
                 out.column(1), out.column(2), out.column(3),
                 out.column(4)],
                names=["doc_id", "offset", "_chunk", "_inner", "kind",
                       "text", "media_ref"])

    # explicit projection pins the positional column order the Arrow UDF
    # reads AND guarantees only these six columns cross the boundary
    # (guide §4.1: an opaque function otherwise ships every column)
    narrow = df_exploded.select(
        "doc_id", "offset", "_chunk", "kind", "text", "media_ref")
    extracted = narrow.mapInArrow(process, schema=_EXPLODED_MID_SCHEMA)
    w = Window.partitionBy("doc_id").orderBy("offset", "_chunk", "_inner")
    return (
        extracted
        .withColumn("span_idx",
                    (F.row_number().over(w) - F.lit(1)).cast("int"))
        .select("doc_id", "span_idx", "kind", "text", "media_ref", "offset")
    )


DOC_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("meta_description", T.StringType()),
    T.StructField("canonical_url", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def doc_metadata(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> per-document head metadata (title, meta
    description, canonical link, html lang), first occurrence across the
    document's text spans winning.  Same zero-shuffle narrow-map shape
    as extraction; one row per input document (all-NULL when the
    document carries no head metadata)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from html_qt_spark.kernel.encoding import decode_html
        from html_qt_spark.kernel.extractor import extract_metadata
        from html_qt_spark.kernel.treebuilder import parse

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "title", "meta_description",
                                    "canonical_url", "lang")}
            for doc_id, s_kinds, s_texts in zip(
                    pdf["doc_id"], pdf["_kinds"], pdf["_texts"]):
                title = desc = canon = lang = None
                if s_kinds is not None:
                    for kind, html in zip(s_kinds, s_texts):
                        if kind == "media" or not html:
                            continue
                        if None not in (title, desc, canon, lang):
                            break
                        if isinstance(html, (bytes, bytearray)):
                            html = decode_html(bytes(html))
                        try:
                            t, d, c, lg = extract_metadata(parse(
                                html, collect_errors=False))
                        except Exception:  # noqa: BLE001 — poison pill
                            continue
                        title = title if title is not None else t
                        desc = desc if desc is not None else d
                        canon = canon if canon is not None else c
                        lang = lang if lang is not None else lg
                rows["doc_id"].append(doc_id)
                rows["title"].append(title)
                rows["meta_description"].append(desc)
                rows["canonical_url"].append(canon)
                rows["lang"].append(lang)
            yield pd.DataFrame(rows)

    flat = df.select(
        "doc_id",
        F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
    )
    return flat.mapInPandas(process, schema=DOC_META_SCHEMA)
