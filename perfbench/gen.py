"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)``: the same
arguments give byte-identical parquet files.  The program under test only
ever sees the written files.

The document texts follow the shape of the repo's ``documents.parquet``
test tables (sf0.1): 10-99 words drawn uniformly from a 31-word
vocabulary, ``lang`` mostly ``en``, ``source`` cycling over 20 values.
The tables themselves are not read, so the benchmark needs nothing
outside its checkout.

Files written under ``out_dir``:

- ``documents.parquet`` (doc_id, text, lang, source, n_chars): the input
  of the dedup queries, and the text the pages are built from.
- ``spans.parquet`` (doc_id, offset, kind, text, media_ref): one row per
  page span, in the ``sources.interleaved`` layout, for ``replication``
  pages per document of the first ``page_docs`` documents (the ids are
  a shuffle, so these are a random sample).  ``crawl_clean`` pages are exactly what
  ``INTERLEAVED_SPANS_SQL`` makes of the replicated documents (the
  ``bench.py`` input); ``crawl_messy`` pages keep the layout but draw
  every text span from one of three grammar tiers.
- ``pages.parquet`` (doc_id, spans array<struct<kind,text,media_ref,
  offset>>): the same spans nested per page.
- ``pairs.parquet`` (doc_a, doc_b, jaccard): the true near-copy pairs of
  the documents and the word-3-shingle Jaccard of each (``crawl_clean``
  documents hold near copies, ``crawl_messy`` documents none).
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

WORKLOADS = ("crawl_clean", "crawl_messy")

# crawl_messy: share of text spans per grammar tier (the spans each tier
# is built to land in; perfbench/tests/test_gen.py checks the shares
# against MESSY_BANDS with the kernel's own classifiers)
MESSY_TIERS = ("trivial", "fastparse", "spec")
MESSY_BANDS = {t: (0.25, 0.42) for t in MESSY_TIERS}

# crawl_clean documents: share of docs that copy another doc, the share
# of those copies that are exact, and the word edit rate of a near-copy
COPY_SHARE = 0.3
EXACT_SHARE = 0.25
EDIT_RATE = 0.02
SHINGLE_N = 3
# doc_id offset of page replica r (sources.interleaved.register_documents)
REPLICA_STRIDE = 10_000_000


def _rng(workload: str, seed: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and runs
    return random.Random(f"{workload}:{seed}")


def _words(rng: random.Random) -> list[str]:
    return rng.choices(VOCAB, k=rng.randrange(10, 100))


def _documents(rng: random.Random, texts: list[str]) -> pa.Table:
    n = len(texts)
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


# -- page span templates --------------------------------------------------
# Keyed by (position, tier).  Positions follow the sources.interleaved
# layout: "head" = offset 0 (heading + nav), "body" = offset 1, "div" =
# offset 3 (div + footer), "mega" = offset 5 (the body repeated 20x, on
# every 97th doc).  Fields: {id} doc id, {lang}, {t} the doc text, {s}
# its first 120 chars, {t20} the text repeated 20 times, {w0}..{w3}
# single words.  CLEAN is INTERLEAVED_SPANS_SQL's layout, template for
# template; crawl_messy draws a tier per span, then a template.

_NAV = '<nav><a href="/">Home</a> <a href="/lang">{lang}</a></nav>'
_FOOT = ('<footer><a href="/about">about</a> '
         '<a href="/contact">contact</a></footer>')

CLEAN = {"head": "<h1>Doc {id}</h1>" + _NAV,
         "body": "<p>{t}</p>",
         "div": "<div><p>{s}</p>" + _FOOT + "</div>",
         "mega": "<p>{t20}</p>"}

TEMPLATES: dict[tuple[str, str], tuple[str, ...]] = {
    # inside the trivial grammar: bare block tags, text without & or <
    ("head", "trivial"): (CLEAN["head"],
                          "<h2>Doc {id}</h2><header><a href=\"/\">{w0}</a>"
                          "</header>"),
    ("body", "trivial"): (CLEAN["body"],
                          "<blockquote>{t}</blockquote>",
                          "<div><p>{s}</p>{w0} {w1}</div>"),
    ("div", "trivial"): (CLEAN["div"],
                         "<li>{s}</li><aside><a href=\"/x\">{w0}</a></aside>"),
    ("mega", "trivial"): (CLEAN["mega"],),
    # fastparse grammar: attributes, inline formatting, void elements,
    # implied </p> and </li>, nested divs
    ("head", "fastparse"): (
        '<h1 class="title">Doc {id}</h1><nav class="top">'
        '<a href="/">Home</a> <a href="/lang">{lang}</a></nav>',
        '<div id="top"><h2>Doc <em>{id}</em></h2></div>'),
    ("body", "fastparse"): (
        '<p class="lead">{w0} <b>{w1}</b> {s} <i>{w2}</i><br>{w3}</p>',
        "<p>{s}<p>{w0} {w1} {w2}",
        "<ul><li>{w0} {w1}<li>{s}<li><strong>{w2}</strong></ul>",
        '<p><em>{w0}</em> <img src="/i/{id}.png" alt="{w1}"> {t}</p>'),
    ("div", "fastparse"): (
        '<div class="post"><div><p>{s}<br>{w0}</div></div>'
        '<footer><a href="/about">about</a></footer>',
        "<dl><dt>{w0}<dd>{s}</dl><hr><small>{w1}</small>"),
    ("mega", "fastparse"): ('<div class="c"><p>{t20}<br><b>{w0}</b></div>',),
    # full spec pipeline: doctype/head/script/style, comments, entities,
    # tables, misnested formatting (adoption agency), svg
    ("head", "spec"): (
        '<!DOCTYPE html><html lang="{lang}"><head><title>Doc {id}</title>'
        '<meta charset="utf-8"><style>p {{ color: red }}</style>'
        '<script>var s = "<p>{w0}</p>";</script></head><body>'
        "<h1>Doc {id}</h1>" + _NAV,
        "<!-- header {w0} --><h1>Doc {id} &mdash; {w1}</h1>" + _NAV),
    ("body", "spec"): (
        "<p>{w0} &amp; {w1} &copy; 2024 &#8212; {s}</p>",
        "<p><b>{w0} <i>{w1}</b> {w2}</i> {s}</p>",
        "<b>{w0}<p>{s}</b>{w1}</p>",
        "<table><tr><td>{w0}</td><td>{s}</td></tr><tr><td>{w1}</td></tr>"
        "</table>",
        "<p>{s}</p><svg><title>{w0}</title><text>{w1}</text></svg>"),
    ("div", "spec"): (
        "<div><table><tr><th>{w0}</th><td>{s}</td></tr></table>"
        "<footer>&copy; <a href=\"/about\">about</a></footer></div>",
        "<div><!-- {w0} --><p>{s}</p><script>x = 1 < 2;</script></div>"),
    ("mega", "spec"): ("<p><b>{w0} <i>{t20}</b> &amp; {w1}</i></p>",),
}


def _fill(template: str, doc_id: int, lang: str, words: list[str],
          rng: random.Random) -> str:
    text = " ".join(words)
    picks = rng.choices(VOCAB, k=4)
    return template.format(
        id=doc_id, lang=lang, t=text, s=text[:120],
        t20=text * 20,
        w0=picks[0], w1=picks[1], w2=picks[2], w3=picks[3])


def _spans(rng: random.Random, docs: pa.Table, messy: bool,
           replication: int) -> pa.Table:
    """Page spans for ``replication`` copies of every document, copy r
    with doc_id + r * REPLICA_STRIDE — ``sources.interleaved``'s
    replication, which ``bench.py`` runs at 20."""
    cols: dict[str, list] = {"doc_id": [], "offset": [], "kind": [],
                             "text": [], "media_ref": []}

    def add(doc_id: int, offset: int, kind: str, text, ref) -> None:
        cols["doc_id"].append(str(doc_id))
        cols["offset"].append(offset)
        cols["kind"].append(kind)
        cols["text"].append(text)
        cols["media_ref"].append(ref)

    def span(pos: str, doc_id: int, lang: str, words: list[str]) -> str:
        if not messy:
            return _fill(CLEAN[pos], doc_id, lang, words, rng)
        tier = rng.choice(MESSY_TIERS)
        return _fill(rng.choice(TEMPLATES[pos, tier]), doc_id, lang, words,
                     rng)

    rows = list(zip(docs.column("doc_id").to_pylist(),
                    docs.column("text").to_pylist(),
                    docs.column("lang").to_pylist(),
                    docs.column("source").to_pylist()))
    for r in range(replication):
        for base_id, text, lang, source in rows:
            doc_id = base_id + r * REPLICA_STRIDE
            words = text.split(" ")
            add(doc_id, 0, "text", span("head", doc_id, lang, words), None)
            add(doc_id, 1, "text", span("body", doc_id, lang, words), None)
            add(doc_id, 2, "media", None, f"img://{source}/{doc_id}")
            add(doc_id, 3, "text", span("div", doc_id, lang, words), None)
            if doc_id % 3 == 0:
                add(doc_id, 4, "media", None, f"vid://{doc_id}")
            if doc_id % 97 == 0:
                add(doc_id, 5, "text", span("mega", doc_id, lang, words),
                    None)
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.string()),
        "offset": pa.array(cols["offset"], pa.int32()),
        "kind": pa.array(cols["kind"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "media_ref": pa.array(cols["media_ref"], pa.string()),
    })


def _nest(spans: pa.Table) -> pa.Table:
    """Exploded spans (grouped by doc, in offset order) -> the
    ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)`` shape
    ``sources.interleaved_nested`` produces."""
    ids = spans.column("doc_id").to_pylist()
    starts = [i for i in range(len(ids)) if i == 0 or ids[i] != ids[i - 1]]
    items = pa.StructArray.from_arrays(
        [spans.column(c).combine_chunks()
         for c in ("kind", "text", "media_ref", "offset")],
        names=["kind", "text", "media_ref", "offset"])
    offsets = pa.array(starts + [len(ids)], pa.int32())
    return pa.table({
        "doc_id": pa.array([ids[i] for i in starts], pa.string()),
        "spans": pa.ListArray.from_arrays(offsets, items),
    })


# -- near copies ------------------------------------------------------------

def shingle_set(text: str, n: int = SHINGLE_N) -> set[str]:
    """Word n-gram shingles as ``operators.dedup.shingles`` forms them."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def _near_copy(rng: random.Random, words: list[str]) -> list[str]:
    out = list(words)
    for i in rng.sample(range(len(out)), max(1, round(EDIT_RATE * len(out)))):
        out[i] = rng.choice([w for w in VOCAB if w != out[i]])
    return out


def _dedup_texts(rng: random.Random, n: int):
    """n texts, a COPY_SHARE of them copies of a distinct fresh text,
    shuffled; returns (texts, true pairs as (a, b, jaccard), a < b)."""
    n_copy = int(n * COPY_SHARE)
    fresh = [_words(rng) for _ in range(n - n_copy)]
    sources = rng.sample(range(len(fresh)), n_copy)
    texts = [" ".join(w) for w in fresh]
    copy_of: list[int] = []
    for k, src in enumerate(sources):
        exact = k < int(n_copy * EXACT_SHARE)
        texts.append(texts[src] if exact
                     else " ".join(_near_copy(rng, fresh[src])))
        copy_of.append(src)
    order = list(range(n))
    rng.shuffle(order)          # order[new_id] = old index
    new_id = {old: new for new, old in enumerate(order)}
    pairs = []
    for k, src in enumerate(copy_of):
        a, b = sorted((new_id[src], new_id[len(fresh) + k]))
        pairs.append((a, b, jaccard(texts[src], texts[len(fresh) + k])))
    pairs.sort()
    return [texts[old] for old in order], pairs


def generate(workload: str, seed: int, n_docs: int, out_dir: Path,
             replication: int = 1, page_docs: int | None = None) -> dict:
    """Write the workload's input under ``out_dir``: ``n_docs`` documents
    and ``replication`` pages for each of the first ``page_docs`` of
    them (all, by default).  Returns a summary."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = _rng(workload, seed)
    messy = workload == "crawl_messy"
    if messy:
        texts = [" ".join(_words(rng)) for _ in range(n_docs)]
        pairs = []
    else:
        texts, pairs = _dedup_texts(rng, n_docs)
    _write(pa.table({
        "doc_a": pa.array([p[0] for p in pairs], pa.int64()),
        "doc_b": pa.array([p[1] for p in pairs], pa.int64()),
        "jaccard": pa.array([p[2] for p in pairs], pa.float64()),
    }), out_dir / "pairs.parquet")
    docs = _documents(rng, texts)
    _write(docs, out_dir / "documents.parquet")
    spans = _spans(rng, docs.slice(0, page_docs), messy, replication)
    _write(spans, out_dir / "spans.parquet")
    pages = _nest(spans)
    _write(pages, out_dir / "pages.parquet")
    return {"workload": workload, "seed": seed, "n_docs": n_docs,
            "n_pages": pages.num_rows, "n_spans": spans.num_rows,
            "true_pairs": len(pairs)}
