"""Driver-side references the benchmark checks the program's outputs
against.  Each check returns the ids of the documents it found wrong.

- extraction: the full spec pipeline, span by span (tokenizer and tree
  builder without the fast-parse shortcut, then ``extract_spans``), is
  the reference every fast tier must match;
- exact dedup: a Python md5 grouping of the generated texts;
- LSH: the generator's true pairs.  Exact copies must always be found;
  recall over all true pairs must reach the MinHash collision
  probability expected from each pair's shingle Jaccard, less a margin.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

QUARANTINE_KIND = "__quarantine__"
RECALL_MARGIN = 0.1
# operators.dedup.minhash_lsh_pairs defaults: 16 hashes in 4 bands
LSH_ROWS, LSH_BANDS = 4, 4


def spec_extract(html: str) -> list[tuple]:
    """(kind, text, media_ref) spans from the spec pipeline alone."""
    from html_qt_spark.kernel.extractor import extract_spans
    from html_qt_spark.kernel.tokenizer import HTMLTokenizer
    from html_qt_spark.kernel.treebuilder import TreeBuilder

    tokens, _ = HTMLTokenizer(html, collect_errors=False).run()
    tb = TreeBuilder(collect_errors=False)
    tb.process(tokens)
    return extract_spans(tb)


def reference_rows(spans: list) -> set[tuple]:
    """Expected operator rows (doc_id, span_idx, kind, text, media_ref,
    offset) for input span rows (doc_id, offset, kind, text, media_ref)
    — the operator contract: media spans pass through at their position,
    empty text spans vanish, and span_idx counts each doc's output."""
    by_doc: dict[str, list] = defaultdict(list)
    for row in spans:
        by_doc[row[0]].append(row)
    rows = set()
    for doc_id, doc_spans in by_doc.items():
        idx = 0
        for _, offset, kind, text, ref in sorted(doc_spans,
                                                 key=lambda r: r[1]):
            if kind == "media":
                rows.add((doc_id, idx, "media", text, ref, offset))
                idx += 1
            elif text:
                for k, t, m in spec_extract(text):
                    rows.add((doc_id, idx, k, t, m, offset))
                    idx += 1
    return rows


def extraction_failures(got: list, expected: set[tuple],
                        sample: set[str]) -> set[str]:
    """Docs quarantined anywhere, plus sampled docs whose rows differ."""
    bad = {r[0] for r in got if r[2] == QUARANTINE_KIND}
    got_rows = {tuple(r) for r in got if r[0] in sample}
    for row in got_rows ^ expected:
        bad.add(row[0])
    return bad


def exact_dedup_failures(got: list, doc_ids: list, texts: list) -> set:
    """Docs whose md5 group (count, keep id) the operator got wrong."""
    ref: dict[str, list] = {}
    members: dict[str, list] = defaultdict(list)
    for doc_id, text in zip(doc_ids, texts):
        fp = hashlib.md5(text.encode()).hexdigest()
        members[fp].append(doc_id)
    for fp, ids in members.items():
        ref[fp] = [len(ids), min(ids)]
    bad = set()
    got_map = {fp: [n, keep] for fp, n, keep in got}
    for fp in ref.keys() | got_map.keys():
        if ref.get(fp) != got_map.get(fp):
            bad.update(members.get(fp, ()))
    return bad


def collision_probability(jaccard: float) -> float:
    """P(a pair shares at least one LSH band) for ideal MinHash."""
    return 1.0 - (1.0 - jaccard ** LSH_ROWS) ** LSH_BANDS


def lsh_check(got: list, true_pairs: list) -> dict:
    """Recall against the true pairs and the docs the check failed.
    Without true pairs (crawl_messy) recall reads 0 and only the
    pair contract (doc_a < doc_b) is checked."""
    found = {(a, b) for a, b in got}
    truth = {(a, b) for a, b, _ in true_pairs}
    hits = found & truth
    recall = len(hits) / len(truth) if truth else 0.0
    expected = (sum(collision_probability(j) for _, _, j in true_pairs)
                / len(true_pairs)) if truth else 0.0
    bad = {x for a, b, j in true_pairs if j == 1.0 and (a, b) not in found
           for x in (a, b)}
    bad.update(x for a, b in found if a >= b for x in (a, b))
    if len(found) != len(got):
        bad.update(x for a, b in got for x in (a, b))   # duplicate pairs
    if truth and recall < expected - RECALL_MARGIN:
        bad.update(x for a, b in truth - found for x in (a, b))
    return {"candidate_pairs": len(found),
            "true_pair_share": len(hits) / len(found) if found else 0.0,
            "recall": recall, "expected_recall": expected, "bad": bad}
