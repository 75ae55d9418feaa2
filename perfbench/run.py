"""Benchmark command for html_qt_spark (see BENCHMARK.json and
perfbench/README.md).

    python3 perfbench/run.py --workload crawl_clean --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  It generates the workload's input from the
seed, sets up a ``local[nproc/2]`` session three times (the last one is
kept), warms every query with untimed concurrent passes, then runs the
timed queries round-robin in a closed loop (one client, one query in
flight) for ``--seconds`` and at least three rounds.  It checks the
outputs against driver-side references and prints one JSON object as
the last line of stdout.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same loop, reading Spark's metrics after every pass, then times each
layer on its own and reports the per-layer metrics; its spans are
written to ``.perfbench_work/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, gen, sparkstats  # noqa: E402

# workload -> (documents, documents with pages, pages per document).
# The dedup queries read every document; at a few thousand documents
# their passes were mostly fixed per-query cost (planning, stage
# scheduling) and still sped up by half over the first fifteen passes.
SIZES = {"crawl_clean": (24000, 6000, 2), "crawl_messy": (24000, 4000, 1)}
SETUPS = 3
MIN_ROUNDS = 3
# untimed passes per query before timing starts, run as concurrent jobs:
# the JVM keeps compiling the queries' hot code over the first passes
# (run with C2 off, the speed-up is gone).  exact_dedup's pass is short
# and mostly per-query driver work, which takes the most passes to warm.
WARM_PASSES = {"extract_doc": 3, "lsh": 3, "exact_dedup": 6}
# timed passes per traced-only Spark measurement, after one warm pass
REPEATS = 1
# repeats of each kernel-tier timing in the driver (best of)
KERNEL_REPEATS = 2
CHECK_SAMPLE = 300
# sized for a 4-core, 15 GB host shared with other jobs (the engine's
# own default, 48g, assumes a dedicated large driver).  The heap is
# committed and touched at JVM start, as production drivers often are:
# otherwise the JVM's resident size follows GC heap-growth heuristics
# and peak_rss_mb swung by ~40% between identical runs.
DRIVER_MEM = "1g"

# passes per round of the short queries, so each reports a median over
# more than MIN_ROUNDS passes
PASSES_PER_ROUND = {"exact_dedup": 3}

# timed query -> end-to-end metric
QUERY_METRIC = {
    "extract_doc": "extract_docs_per_s",
    "lsh": "lsh_docs_per_s",
    "exact_dedup": "exact_dedup_docs_per_s",
}


def _env(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into the run's work directory, before pyspark starts."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


class Tracer:
    """In-memory spans (name, query tag, start, end, parent); written
    out once, when the run ends.  Disabled, a span costs one check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, query: str = ""):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "query": query,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


@dataclass
class Inputs:
    docs: object        # documents table (dedup queries)
    nested: object      # (doc_id, spans) pages, persisted
    exploded: object    # one row per span, persisted in traced runs
    n_pages: int
    n_docs: int


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parallel(fns: list) -> list:
    """Run untimed Spark work (warm passes, checks) as concurrent jobs;
    returns the results in order and re-raises the first failure."""
    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


def _walls(fn, repeats: int) -> list[float]:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return walls


def start_session(cpus: int):
    from html_qt_spark.plans.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cpus: int) -> None:
    """One task per slot imports the kernel, so no timed pass pays the
    Python worker spawn."""
    def warm(batches):
        from html_qt_spark.kernel.extractor import extract_html
        extract_html("<p>warm</p>")
        yield from batches

    _noop(spark.range(0, cpus, 1, cpus).mapInArrow(warm, "id long"))


def load_inputs(spark, data: Path, cpus: int, spans: bool) -> Inputs:
    """Read the generated pages and cache them spread over 2x the cores,
    as bench.py does; the dedup input stays a file scan.  The pages'
    exploded shape is cached too only if ``spans`` (only traced runs
    time a query on it)."""
    parts = cpus * 2
    docs = spark.read.parquet(str(data / "documents.parquet"))
    nested = (spark.read.parquet(str(data / "pages.parquet"))
              .repartition(parts, "doc_id").persist())
    exploded = (spark.read.parquet(str(data / "spans.parquet"))
                .repartition(parts, "doc_id"))
    n_pages = nested.count()
    if spans:
        exploded = exploded.persist()
        exploded.count()
    return Inputs(docs, nested, exploded, n_pages, docs.count())


def setup(cpus: int, data: Path, tracer: Tracer, tag: str):
    """Session start, worker warm-up and input load; returns the session,
    the inputs and the three walls."""
    with tracer.span("setup", tag):
        t0 = time.perf_counter()
        with tracer.span("session.start", tag):
            spark = start_session(cpus)
        t1 = time.perf_counter()
        with tracer.span("session.worker_warm", tag):
            warm_workers(spark, cpus)
        t2 = time.perf_counter()
        with tracer.span("sources.load", tag):
            inp = load_inputs(spark, data, cpus, tracer.enabled)
        t3 = time.perf_counter()
    return spark, inp, (t1 - t0, t2 - t1, t3 - t2)


def query_builders(inp: Inputs) -> dict:
    """Query of the timed loop -> (build its DataFrame, docs it reads)."""
    from html_qt_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from html_qt_spark.operators.extract import extract_spans_doc

    return {
        "extract_doc": (lambda: extract_spans_doc(inp.nested), inp.n_pages),
        "lsh": (lambda: minhash_lsh_pairs(inp.docs), inp.n_docs),
        "exact_dedup": (lambda: exact_dedup(inp.docs), inp.n_docs),
    }


def make_queries(inp: Inputs) -> dict:
    """Query of the timed loop -> (run one pass, docs it processes).

    Each DataFrame is built once, here, and a pass writes it: planning
    and execution are timed, the Python-side build is not.  lsh's build
    (py4j calls and a partition-count probe) took 0.5-1.4 s against a
    ~2 s execution and swung with host load; the traced run reports
    every build as ``build.<query>_s``."""
    return {name: (lambda df=build(): _noop(df), docs)
            for name, (build, docs) in query_builders(inp).items()}


def traced_queries(inp: Inputs, job) -> dict:
    """Queries the traced run times after the loop: the exploded path
    and the write path.  In the untimed loop they would add ~20 s to
    every run (see perfbench/README.md)."""
    from html_qt_spark.operators.extract import extract_spans_exploded

    return {
        "extract_exploded": (
            lambda: _noop(extract_spans_exploded(inp.exploded)),
            inp.n_pages),
        "job": (job, inp.n_pages),
    }


class Job:
    """``plans.pipeline.run_extraction_job`` into a fresh directory per
    pass; keeps only the latest output, for the check."""

    def __init__(self, spark, inp: Inputs, work: Path):
        self.spark, self.inp, self.root = spark, inp, work / "job"
        self.runs = 0
        self.last: Path | None = None

    def __call__(self) -> None:
        from html_qt_spark.plans.pipeline import run_extraction_job

        out = self.root / str(self.runs)
        self.runs += 1
        res = run_extraction_job(self.spark, self.inp.nested, str(out))
        if res["docs_out"] != self.inp.n_pages or res["quarantined"]:
            raise RuntimeError(f"job summary off: {res}")
        if self.last is not None:
            shutil.rmtree(self.last)
        self.last = out


def run_checks(spark, inp: Inputs, data: Path, seed: int,
               job_dir: Path | None) -> dict:
    """query -> set of doc ids it got wrong (plus the LSH figures), for
    every query the run timed; the exploded path and the job output
    ``job_dir`` only in traced runs, which pass it.  The operator outputs
    are collected as concurrent jobs."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from html_qt_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from html_qt_spark.operators.extract import (
        extract_spans_doc,
        extract_spans_exploded,
    )

    cols = ["doc_id", "span_idx", "kind", "text", "media_ref", "offset"]
    ids = pq.read_table(data / "pages.parquet",
                        columns=["doc_id"]).column(0).to_pylist()
    sample = set(random.Random(f"check:{seed}").sample(
        ids, min(CHECK_SAMPLE, len(ids))))
    in_sample = F.col("doc_id").isin(sorted(sample))
    keep = in_sample | (F.col("kind") == check.QUARANTINE_KIND)
    jobs = {
        "raw": inp.exploded.where(in_sample).select(
            "doc_id", "offset", "kind", "text", "media_ref"),
        "extract_doc": extract_spans_doc(inp.nested).where(keep),
        "exact_dedup": exact_dedup(inp.docs).select(
            "fp", "dup_count", "keep_id"),
        "lsh": minhash_lsh_pairs(inp.docs),
    }
    if job_dir is not None:
        jobs["extract_exploded"] = extract_spans_exploded(
            inp.exploded).where(keep)
        jobs["job"] = spark.read.parquet(str(job_dir / "spans")).where(
            in_sample).unionByName(spark.read.parquet(
                str(job_dir / "quarantine")).select(
                "doc_id", F.lit(0).alias("span_idx"),
                F.lit(check.QUARANTINE_KIND).alias("kind"),
                F.col("reason").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.col("error_pos").alias("offset")))
    for name in ("extract_doc", "extract_exploded", "job"):
        if name in jobs:
            jobs[name] = jobs[name].select(*cols)
    got = dict(zip(jobs, _parallel(
        [lambda df=df: [tuple(r) for r in df.collect()]
         for df in jobs.values()])))

    expected = check.reference_rows(got.pop("raw"))
    bad = {name: check.extraction_failures(got[name], expected, sample)
           for name in ("extract_doc", "extract_exploded", "job")
           if name in got}
    docs = pq.read_table(data / "documents.parquet",
                         columns=["doc_id", "text"]).to_pydict()
    bad["exact_dedup"] = check.exact_dedup_failures(
        got["exact_dedup"], docs["doc_id"], docs["text"])
    p = pq.read_table(data / "pairs.parquet").to_pydict()
    truth = list(zip(p["doc_a"], p["doc_b"], p["jaccard"]))
    lsh = check.lsh_check(got["lsh"], truth)
    bad["lsh"] = lsh.pop("bad")
    lsh["true_pairs"] = len(truth)
    return {"bad": bad, "lsh": lsh}


def kernel_layers(inp: Inputs, arrow_batch: int) -> dict:
    """Time each kernel tier, in the driver process, on the text spans
    the tier before it rejected — every text span of the workload."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from html_qt_spark.kernel.extractor import extract_spans
    from html_qt_spark.kernel.fastparse import fast_extract
    from html_qt_spark.kernel.tokenizer import tokenize
    from html_qt_spark.kernel.treebuilder import parse
    from html_qt_spark.kernel.trivialbatch import vec_trivial
    from html_qt_spark.kernel.trivialspans import trivial_extract

    texts = [r[0] for r in inp.exploded
             .where((F.col("kind") == "text") & (F.length("text") > 0))
             .select("text").orderBy("doc_id", "offset").collect()]
    out: dict[str, float] = {}

    def best(fn) -> float:
        # the kernel runs alone on the driver here, so the minimum of a
        # few repeats is the least disturbed reading of a fixed workload
        return min(_walls(fn, KERNEL_REPEATS))

    def ratio(part: int, whole: int) -> float:
        return part / whole if whole else 0.0

    accepted: list[bool] = []

    def run_vec() -> None:
        accepted.clear()
        for i in range(0, len(texts), arrow_batch):
            acc, _, _ = vec_trivial(pa.array(texts[i:i + arrow_batch]))
            accepted.extend(acc.tolist())

    out["trivialbatch.s"] = best(run_vec)
    out["trivialbatch.spans"] = len(texts)
    out["trivialbatch.accept_ratio"] = ratio(sum(accepted), len(texts))
    rejected = [t for t, a in zip(texts, accepted) if not a]
    for name, fn in (("trivialspans", trivial_extract),
                     ("fastparse", fast_extract)):
        spans = rejected
        out[f"{name}.s"] = best(lambda: [fn(t) for t in spans])
        rejected = [t for t in spans if fn(t) is None]
        out[f"{name}.spans"] = len(spans)
        out[f"{name}.accept_ratio"] = ratio(len(spans) - len(rejected),
                                            len(spans))
    out["spec.spans"] = len(rejected)
    out["tokenizer.s"] = best(
        lambda: [tokenize(t, collect_errors=False) for t in rejected])
    parse_s = best(lambda: [parse(t, collect_errors=False)
                            for t in rejected])
    out["treebuilder.self_s"] = max(parse_s - out["tokenizer.s"], 0.0)
    trees = [parse(t, collect_errors=False) for t in rejected]
    out["extractor.s"] = best(lambda: [extract_spans(tb) for tb in trees])
    return out


def traced_extras(spark, inp: Inputs, data: Path, walls: dict,
                  job: Job, tracer: Tracer) -> dict:
    """Per-layer figures that need passes of their own."""
    from pyspark.sql import functions as F

    from html_qt_spark.operators.dedup import minhash_signatures
    from html_qt_spark.operators.extract import extract_spans_doc
    from html_qt_spark.sources.interleaved import interleaved_nested

    out: dict[str, float] = {}
    # the projection extract_spans_doc puts in front of its Arrow UDF
    flat = inp.nested.select(
        "doc_id", F.col("spans.kind").alias("_kinds"),
        F.col("spans.text").alias("_texts"),
        F.col("spans.media_ref").alias("_refs"),
        F.col("spans.offset").alias("_offsets"))

    def identity(batches):
        yield from batches

    def median(name: str, fn) -> float:
        with tracer.span(name):
            fn()        # untimed warm pass
            return statistics.median(_walls(fn, REPEATS))

    out["sources.scan_s"] = median("sources.scan", lambda: _noop(flat))
    out["sources.synth_s"] = median(
        "sources.synth",
        lambda: _noop(interleaved_nested(spark, str(data))))
    out["sources.input_mb"] = inp.exploded.agg(F.sum(F.coalesce(
        F.length("text"), F.lit(0)))).collect()[0][0] / (1 << 20)
    out["extract.arrow_roundtrip_s"] = median(
        "extract.arrow_roundtrip",
        lambda: _noop(flat.mapInArrow(identity, flat.schema)))
    with tracer.span("extract.count_vs_noop"):
        counts, noops = [], []
        for _ in range(REPEATS):
            counts += _walls(lambda: extract_spans_doc(inp.nested).count(), 1)
            noops += _walls(lambda: _noop(extract_spans_doc(inp.nested)), 1)
        out["extract.count_s"] = statistics.median(counts)
        out["extract.noop_s"] = statistics.median(noops)
    for q, (build, _) in query_builders(inp).items():
        out[f"build.{q}_s"] = statistics.median(_walls(build, 3))
    out["dedup.signatures_s"] = median(
        "dedup.signatures", lambda: _noop(minhash_signatures(inp.docs)))
    out["job.write_mb"] = sum(
        f.stat().st_size for f in job.last.rglob("*") if f.is_file()
    ) / (1 << 20)
    out["exploded.docs_per_s"] = inp.n_pages / walls["extract_exploded"]
    out["job.docs_per_s"] = inp.n_pages / walls["job"]
    out["job.extra_s"] = walls["job"] - walls["extract_doc"]
    return out


def scaling_pass(data: Path, tracer: Tracer):
    """Median extract_doc wall on a local[1] session, with the driver
    JVM and its Python workers pinned to one CPU; returns the session
    (still running) and the wall."""
    from html_qt_spark.operators.extract import extract_spans_doc

    cpu = min(os.sched_getaffinity(0))
    with tracer.span("scaling.local1"):
        spark = start_session(1)
        sparkstats.pin_tree(sparkstats.jvm_pid(spark), {cpu})
        warm_workers(spark, 1)
        inp = load_inputs(spark, data, 1, False)

        def extract() -> None:
            _noop(extract_spans_doc(inp.nested))

        extract()
        return spark, statistics.median(_walls(extract, REPEATS))


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process of it."""
    from pyspark import SparkContext

    pids = sparkstats.process_tree(sparkstats.jvm_pid(spark))
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.1)
        if Path(f"/proc/{pid}").exists():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)


def _unit(key: str) -> str:
    if key.endswith("docs_per_s"):
        return "docs/s"
    if key.endswith(("_s", ".s")):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith(("ratio", "share", "recall", "eff_1_to_n")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import html_qt_spark  # noqa: F401 — fail before any work without it
    traced = bool(args.trace)
    workload = args.workload

    base = ROOT / ".perfbench_work"
    work = base / f"{workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    n_docs, page_docs, replication = SIZES[workload]
    summary = gen.generate(workload, args.seed, n_docs, data, replication,
                           page_docs)
    phase("generate")
    _env(work)
    # half the CPUs as task slots: an extract task keeps two threads busy
    # (the JVM task thread that feeds Arrow batches and the Python worker)
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    print(f"# workload={workload} seed={args.seed} cpus={cpus} "
          f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
          f"input={json.dumps(summary)}", flush=True)

    tracer = Tracer(traced)
    spark = None
    try:
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, inp, walls = setup(cpus, data, tracer, f"setup#{i}")
            setups.append(walls)
        jvm = sparkstats.jvm_pid(spark)
        rss = sparkstats.peak_rss_mb(jvm)
        phase("setups")

        queries = make_queries(inp)
        job = Job(spark, inp, work) if traced else None
        extra = traced_queries(inp, job) if traced else {}
        with tracer.span("warm"):
            _parallel([fn for q, (fn, _) in queries.items()
                       for _ in range(WARM_PASSES[q])]
                      + [fn for fn, _ in extra.values()])
        phase("warm_passes")

        cursor = sparkstats.Cursor(spark) if traced else None
        per_query: dict[str, list[dict]] = {q: [] for q in queries | extra}
        samples: dict[str, list[float]] = {q: [] for q in queries | extra}
        steals: dict[str, list[float]] = {q: [] for q in queries}
        attempted = failed = 0
        errors: list[str] = []
        bookkeeping = 0.0
        # one round of the closed loop, in order; the loop may stop after
        # any pass once MIN_ROUNDS rounds are done and the time is up
        schedule = [q for q in queries
                    for _ in range(PASSES_PER_ROUND.get(q, 1))]
        t_end = time.perf_counter() + args.seconds
        n_pass = 0
        while (n_pass < MIN_ROUNDS * len(schedule)
               or time.perf_counter() < t_end):
            name = schedule[n_pass % len(schedule)]
            n_pass += 1
            fn, docs = queries[name]
            attempted += docs
            with tracer.span("pass", name):
                st0, tot0 = sparkstats.cpu_jiffies()
                t0 = time.perf_counter()
                try:
                    fn()
                except Exception as exc:  # noqa: BLE001 — count it
                    traceback.print_exc()
                    failed += docs
                    errors.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                samples[name].append(time.perf_counter() - t0)
                st1, tot1 = sparkstats.cpu_jiffies()
                steals[name].append((st1 - st0) / max(tot1 - tot0, 1))
            t0 = time.perf_counter()
            rss = max(rss, sparkstats.peak_rss_mb(jvm))
            if cursor is not None:
                per_query[name].append(cursor.take())
            bookkeeping += time.perf_counter() - t0
        phase("loop")
        for name, (fn, docs) in extra.items():
            for _ in range(REPEATS):
                attempted += docs
                with tracer.span("pass", name):
                    samples[name] += _walls(fn, 1)
                per_query[name].append(cursor.take())
        if extra:
            phase("traced_queries")

        with tracer.span("check"):
            checked = run_checks(spark, inp, data, args.seed,
                                 job.last if job else None)
        phase("check")
        for name, bad in checked["bad"].items():
            failed += len(bad) * len(samples[name])
            if bad:
                errors.append(f"{name}: {len(bad)} docs wrong, e.g. "
                              f"{sorted(bad)[:5]}")
        walls = {q: statistics.median(s) for q, s in samples.items() if s}

        metrics: dict[str, float] = {}
        if not traced:
            metrics["setup_s"] = statistics.median(sum(w) for w in setups)
            for q, metric in QUERY_METRIC.items():
                n = queries[q][1]
                if q not in walls:
                    continue
                metrics[metric] = n / walls[q]
                # steal: the share of the host's CPU time the hypervisor
                # gave to other guests during the pass (see README.md)
                print(f"# {metric}: median of {len(samples[q])} passes; "
                      "rates " + ", ".join(f"{n / w:.0f}" for w in samples[q])
                      + "; steal shares "
                      + ", ".join(f"{st:.3f}" for st in steals[q]))
            metrics["peak_rss_mb"] = rss
            print(f"# peak rss now: {sparkstats.rss_breakdown(jvm)}")
            print("# setup walls (start, warm, load): " + "; ".join(
                ", ".join(f"{x:.2f}" for x in w) for w in setups))
        else:
            metrics["session.start_s"] = statistics.median(
                w[0] for w in setups)
            metrics["session.worker_warm_s"] = statistics.median(
                w[1] for w in setups)
            for q, recs in per_query.items():
                for key in sparkstats.STAGE_METRICS:
                    metrics[f"spark.{q}.{key}"] = statistics.median(
                        r[key] for r in recs)
            for key in sparkstats.PYTHON_METRICS.values():
                metrics[f"python.{key}"] = statistics.median(
                    r["python"][key] for r in per_query["extract_doc"])
            metrics["trace.overhead_share"] = bookkeeping / sum(
                sum(samples[q]) for q in QUERY_METRIC)
            metrics.update(
                traced_extras(spark, inp, data, walls, job, tracer))
            for key in ("candidate_pairs", "true_pairs", "true_pair_share",
                        "recall"):
                metrics[f"lsh.{key}"] = checked["lsh"][key]
            arrow_batch = int(spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"))
            with tracer.span("kernel"):
                metrics.update(kernel_layers(inp, arrow_batch))
            spark.stop()
            spark, wall1 = scaling_pass(data, tracer)
            metrics["scaling.local1_docs_per_s"] = inp.n_pages / wall1
            metrics["scaling.eff_1_to_n"] = wall1 / (
                cpus * walls["extract_doc"])
            tracer.write(base / "traces" / f"{workload}-s{args.seed}.json")
        phase("traced_layers" if traced else "report")
    finally:
        if spark is not None:
            shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    phase("shutdown")
    print("# phases: " + ", ".join(f"{k} {v:.1f} s"
                                   for k, v in phases.items()))

    for e in errors:
        print(f"# FAILED {e}")
    print(f"# failed_share: {failed / attempted:.6f} "
          f"({failed} of {attempted} docs attempted)")
    for key, val in metrics.items():
        print(f"# {key} = {val:.6g} {_unit(key)}")
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
