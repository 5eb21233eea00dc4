"""KG construction benchmark: a writer ingests into a triple store, readers query it.

    python3 perfbench/run.py --workload web_cold --seed 1 --seconds 3 --trace 0

Both workloads are one closed loop with one client on ``local[4]``. A fresh
Spark session (set-up) runs one cold batch ingest into a fresh store — the
writer, timed from input to committed store. Readers then open a store
once, run one query of each kind of the seeded paper query mix (mostly
``paper_details(title_contains=…, limit=10)``) as a warm-up (set-up too)
and then whole blocks of the mix for ``--seconds`` (at least one).

* ``web_cold`` — S1-S4 (``run_web_pipeline``) over seeded crawl pages. The
  readers' store is that output with the seeded paper batch merged in (a
  papers + web store, built as set-up).
* ``papers_json`` — ``read_papers_json`` → ``papers_to_triples`` →
  ``merge_triples`` over seeded paper JSON; readers query the paper store.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
workload with a span and a Spark job group around every call into a layer
and prints the per-layer metrics. Outputs are checked against independent
oracles outside the timed regions (checks.py). Each metric is printed as a
``<workload> <name> = <value> <unit>`` line; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import tracing

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

WEB_PAGES = 500  # pages per cold web ingest
WEB_VOCAB = 2000  # distinct entities, plus 20% spelling variants
PAPERS = 200  # papers per cold JSON ingest
SPARK_CPUS = 4
HEAP = "2g"  # JVM heap, pinned (-Xms = -Xmx)

LAYERS = (
    "session", "html_extract", "linker", "canonicalize", "materialize", "kg_store",
    "manifest", "papers_json", "papers_to_triples", "queries",
)
QUERY_KINDS = ("paper_details", "entity_view", "count_by_predicate", "degree_topk")


def _pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the value itself for one sample."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    out[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants() -> list[int]:
    parents = _parents()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        kids = [c for c, p in parents.items() if p == pid]
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process and all its
    descendants: this Python process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


class Run:
    """One benchmark run: the session, the tracer, the checks' DuckDB
    connection and every sample taken."""

    def __init__(self, args, work: Path):
        import checks

        self.args = args
        self.work = work
        self.con = checks.connect()
        self.spark = None
        self.tracer = None
        self.setup_s = 0.0
        self.store = ""
        self.triples = None
        self.attempted = 0
        self.failed = 0
        self.ingest_wall = 0.0
        self.ingest_new = 0
        self.bytes_per_triple = 0.0
        self.query_ms: list[float] = []
        self.query_kind_ms: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}
        self.block_ms: dict[bool, list[float]] = {True: [], False: []}
        self.layer_totals: dict[str, dict[str, float]] = {}
        self.extra: dict[str, float] = {}
        self.traced_queries = 0
        self.manifest_calls: dict[str, int] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def absorb(self, counters: dict[str, dict[str, float]]) -> None:
        for layer, acc in counters.items():
            tot = self.layer_totals.setdefault(layer, {})
            for k, v in acc.items():
                tot[k] = tot.get(k, 0.0) + v

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        """``get_spark`` at local[4] plus a one-job warm-up: the session layer."""
        from extremexp_knowledge_graph_spark.session import get_spark

        t0 = time.perf_counter()
        local = self.work / "spark-local"
        self.spark = get_spark(
            "perfbench",
            cpus=SPARK_CPUS,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.local.dir": str(local),
                "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={local} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.tracer = tracing.Tracer(sc, bool(self.args.trace))
        with self.tracer.span("session", start=t0):
            self.spark.range(0, 100_000, numPartitions=SPARK_CPUS).selectExpr("sum(id)").collect()
        self.absorb(self.tracer.collect())

    def stop_session(self) -> None:
        """Stop Spark and wait for its JVM to exit. ``spark.stop()`` leaves
        the gateway JVM running until this process exits, so it would
        outlive the benchmark; it exits when its stdin closes."""
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)

    # -- readers ----------------------------------------------------------

    def query(self, kind: str, params: dict, traced: bool, sample: bool = True) -> float:
        """One reader query, timed, then checked against DuckDB. Returns ms;
        ``sample=False`` (warm-up) keeps it out of the latency samples."""
        import checks

        from extremexp_knowledge_graph_spark.plans import queries

        self.attempted += 1
        tracer = self.tracer
        tracer.enabled = traced
        tracer.new_trace()
        t0 = time.perf_counter()
        try:
            with tracer.span("queries"):
                if kind == "paper_details":
                    df = queries.paper_details(self.triples, title_contains=params["title_contains"], limit=10)
                elif kind == "entity_view":
                    df = queries.entity_view(self.triples, params["cls"], {"name": params["pred"]})
                    df = df.where(df.subj == params["iri"])
                elif kind == "count_by_predicate":
                    df = queries.count_by_predicate(self.triples)
                else:
                    df = queries.degree_topk(self.triples, k=params["k"])
                rows = df.collect()
        except Exception:
            traceback.print_exc()
            self.fail(f"query {kind} {params} raised")
            return (time.perf_counter() - t0) * 1000.0
        finally:
            tracer.enabled = bool(self.args.trace)
        ms = (time.perf_counter() - t0) * 1000.0
        if sample:
            self.query_ms.append(ms)
            self.query_kind_ms[kind].append(ms)
        if traced:
            self.traced_queries += 1
            self.absorb(tracer.collect())
        if not checks.same_result(self.con, kind, params, self.store, rows):
            self.fail(f"query {kind} {params} differs from the DuckDB oracle")
        return ms

    def readers(self, mix: list, block: int) -> None:
        """Open the store once, as a serving process does, and run one query
        of each kind in ``mix`` as a warm-up (checked, not sampled); both
        count as set-up. Then run whole ``block``-sized slices of ``mix``
        for --seconds, at least one. With --trace 1 the sampled slices run
        untraced, traced, traced, untraced (at least those four), so the
        same process measures the tracing overhead and a steady warm-up
        trend cancels out of it."""
        from extremexp_knowledge_graph_spark.plans import kg_store

        t0 = time.perf_counter()
        with self.tracer.span("kg_store"):
            self.triples = kg_store.read_triples(self.spark, self.store)
        warm: dict[str, dict] = {}
        for kind, params in mix:
            warm.setdefault(kind, params)
        for kind, params in warm.items():
            self.query(kind, params, traced=False, sample=False)
        self.setup_s += time.perf_counter() - t0
        deadline = time.perf_counter() + self.args.seconds
        b = 1
        while b < (5 if self.args.trace else 2) or time.perf_counter() < deadline:
            traced = bool(self.args.trace) and b % 4 in (2, 3)
            total = 0.0
            for j in range(block):
                total += self.query(*mix[(b * block + j) % len(mix)], traced=traced)
            self.block_ms[traced].append(total)
            b += 1


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def web_cold(run: Run) -> None:
    """Set-up: session, seeded pages, alias table and paper JSON. Measured:
    one cold S1-S4 ingest into a fresh directory. Then the paper batch is
    merged into that store (set-up of the readers), and readers run the
    paper query mix on the papers + web store. Checks: S1 byte identity, the
    store is a set of exactly the reported new triples, the merge adds
    exactly the FIXTURES.md §4 oracle's triples, and (traced) re-submitting
    the complete output does no work."""
    import checks
    import inputs

    from extremexp_knowledge_graph_spark.plans import kg_store, manifest, web_pipeline

    args, work = run.args, run.work
    t_setup = time.perf_counter()
    run.start_session()
    vocab = inputs.entity_vocab(args.seed, WEB_VOCAB)
    inputs.write_pages(str(work / "pages"), args.seed, WEB_PAGES, vocab)
    inputs.write_aliases(str(work / "aliases"), vocab, args.seed)
    batch = inputs.papers(args.seed, PAPERS)
    src = str(work / "papers")
    inputs.write_papers(src, batch)
    spark, tracer = run.spark, run.tracer
    pages = spark.read.parquet(str(work / "pages"))
    aliases = spark.read.parquet(str(work / "aliases"))
    run.setup_s = time.perf_counter() - t_setup

    out = str(work / "kg-web")
    run.store = f"{out}/triples"
    t_ingest = time.perf_counter()
    run.attempted += 1
    tracer.new_trace()
    try:
        if args.trace:
            new = _traced_web_ingest(run, pages, aliases, out, kg_store, manifest, web_pipeline)
        else:
            st = web_pipeline.run_web_pipeline(spark, pages, out, aliases=aliases)
            new = st[web_pipeline.S4]["new_triples"]
    except Exception:
        traceback.print_exc()
        run.fail("web ingest raised")
        return
    run.ingest_wall = time.perf_counter() - t_ingest
    run.ingest_new = new
    if args.trace:
        run.absorb(tracer.collect())
        _web_lineage(run, out)
        run.attempted += 1
        t0 = time.perf_counter()
        again = web_pipeline.run_web_pipeline(spark, pages, out, aliases=aliases)
        run.extra["manifest.noop_resume_s"] = time.perf_counter() - t0
        if any(s.get("pending_buckets") for s in again.values()) or again[web_pipeline.S4]["new_triples"]:
            run.fail(f"re-submitting a complete output did work: {again}")

    bad = checks.s1_mismatches(run.con, str(work / "pages"), f"{out}/docs")
    n, n_distinct, size = checks.store_stats(run.con, run.store)
    run.bytes_per_triple = size / n if n else 0.0
    if bad or not n == n_distinct == new:
        run.fail(f"web ingest: {bad} of {WEB_PAGES} urls fail S1 byte identity; "
                 f"store has {n} rows, {n_distinct} distinct, {new} reported new")

    # the readers' store: this output with the paper batch merged in
    t0 = time.perf_counter()
    added = _ingest_papers(spark, src, run.store)
    run.setup_s += time.perf_counter() - t0
    expected = inputs.paper_triples(batch)
    missing, _ = checks.triple_diff(run.con, run.store, expected)
    n_all, n_all_distinct, _ = checks.store_stats(run.con, run.store)
    if missing or not added == len(expected) == n_all - n == n_all_distinct - n:
        run.fail(f"papers + web store: {added} added, {n_all} rows, {n_all_distinct} distinct over "
                 f"{n} web triples, {missing} of the oracle's {len(expected)} missing")
    run.readers(inputs.query_mix(args.seed, batch), len(inputs.BLOCK))


def _traced_web_ingest(run, pages, aliases, out, kg_store, manifest, web_pipeline) -> int:
    """The same S1-S4 work as one ``run_web_pipeline`` call, one call per
    stage so each stage gets its layer's span, with the store and manifest
    entry points wrapped in theirs."""
    tracer = run.tracer
    real_run_stage = manifest.run_stage

    def run_stage(spark, path, stage, key, fn, *a, **k):
        # S3's run-once unit executes inside manifest.run_stage: its work
        # gets a canonicalize span, so the manifest span keeps only the
        # bookkeeping
        def body():
            with tracer.span("canonicalize"):
                return fn()

        return real_run_stage(spark, path, stage, key, body, *a, **k)

    with contextlib.ExitStack() as stack:
        stack.enter_context(tracer.patched(manifest, "run_stage", run_stage))
        stack.enter_context(tracer.wrapped(
            [(kg_store, "merge_triples", "kg_store"), (kg_store, "read_triples", "kg_store"),
             (manifest, "append_manifest", "manifest"), (manifest, "stale_keys", "manifest"),
             (manifest, "latest_outputs", "manifest"), (manifest, "run_stage", "manifest")],
            run.manifest_calls,
        ))
        stack.enter_context(_count_materialized(run, kg_store))
        new = 0
        for layer, stage in (("html_extract", web_pipeline.S1), ("linker", web_pipeline.S2),
                             ("canonicalize", web_pipeline.S3), ("materialize", web_pipeline.S4)):
            with tracer.span(layer):
                st = web_pipeline.run_web_pipeline(run.spark, pages, out, aliases=aliases, stages=(stage,))
            new += st.get(web_pipeline.S4, {}).get("new_triples", 0)
    return new


def _web_lineage(run: Run, out: str) -> None:
    """Record counts per stage, from the ingest's own manifest."""
    rows = {
        stage: (rows_in or 0, rows_out or 0)
        for stage, rows_in, rows_out in run.con.execute(
            f"""
            SELECT stage, sum(rows_in), sum(rows_out) FROM read_parquet('{out}/manifest/*.parquet')
            WHERE status = 'done' GROUP BY stage
            """
        ).fetchall()
    }
    ents, canon = rows.get("s3_canonicalize", (0, 0))
    run.extra.update({
        "html_extract.pages_in": rows.get("s1_extract", (0, 0))[0],
        "linker.mentions_out": rows.get("s2_link", (0, 0))[1],
        "canonicalize.entities_in": ents,
        "canonicalize.canonicals_out": canon,
        "canonicalize.merge_ratio": (ents - canon) / ents if ents else 0.0,
    })


@contextlib.contextmanager
def _count_materialized(run: Run, kg_store):
    """Count the distinct triples each ``merge_triples`` call receives, in
    a span of its own so the count's jobs are charged to no layer: the
    base of ``kg_store.new_ratio``."""
    from extremexp_knowledge_graph_spark.schema import TRIPLE_KEY

    def merge(spark, new_triples, path, *a, **k):
        with run.tracer.span("perfbench.count"):
            n_in = new_triples.dropDuplicates(TRIPLE_KEY).count()
        n_new = original(spark, new_triples, path, *a, **k)
        run.extra["materialized"] = run.extra.get("materialized", 0) + n_in
        run.extra["new"] = run.extra.get("new", 0) + n_new
        return n_new

    with run.tracer.patched(kg_store, "merge_triples", merge) as original:
        yield


def papers_json(run: Run) -> None:
    """Set-up: session and seeded paper JSON files. Measured: one cold
    JSON → triples → store ingest into a fresh store, then readers run the
    paper query mix. Checks: the store holds exactly the
    FIXTURES.md §4 oracle's distinct triples; each query equals DuckDB."""
    import checks
    import inputs

    from extremexp_knowledge_graph_spark.operators.papers_to_triples import papers_to_triples
    from extremexp_knowledge_graph_spark.plans import kg_store
    from extremexp_knowledge_graph_spark.sources.papers_json import read_papers_json

    args, work = run.args, run.work
    t_setup = time.perf_counter()
    run.start_session()
    batch = inputs.papers(args.seed, PAPERS)
    src = str(work / "papers")
    inputs.write_papers(src, batch)
    spark, tracer = run.spark, run.tracer
    run.setup_s = time.perf_counter() - t_setup

    run.store = str(work / "kg-papers" / "triples")
    t_ingest = time.perf_counter()
    run.attempted += 1
    tracer.new_trace()
    try:
        if args.trace:
            # read alone, then read + map, each forced through a noop sink;
            # papers_to_triples is charged the difference
            with tracer.span("papers_json"):
                read_papers_json(spark, src).write.format("noop").mode("overwrite").save()
            with tracer.span("papers_to_triples"):
                papers_to_triples(read_papers_json(spark, src)).write.format("noop").mode("overwrite").save()
            with tracer.wrapped([(kg_store, "merge_triples", "kg_store"), (kg_store, "read_triples", "kg_store")]):
                with _count_materialized(run, kg_store):
                    new = _ingest_papers(spark, src, run.store)
        else:
            new = _ingest_papers(spark, src, run.store)
    except Exception:
        traceback.print_exc()
        run.fail("papers ingest raised")
        return
    run.ingest_wall = time.perf_counter() - t_ingest
    run.ingest_new = new
    if args.trace:
        counters = tracer.collect()
        read, mapped = counters.get("papers_json", {}), counters.get("papers_to_triples", {})
        for k in mapped:
            mapped[k] = max(0.0, mapped[k] - read.get(k, 0.0))
        run.absorb(counters)

    expected = inputs.paper_triples(batch)
    missing, extra = checks.triple_diff(run.con, run.store, expected)
    n, n_distinct, size = checks.store_stats(run.con, run.store)
    run.bytes_per_triple = size / n if n else 0.0
    if missing or extra or not new == n == n_distinct == len(expected):
        run.fail(f"paper store: {new} new, {n} rows, {n_distinct} distinct; the oracle's "
                 f"{len(expected)} differ by {missing} missing and {extra} extra")
    run.readers(inputs.query_mix(args.seed, batch), len(inputs.BLOCK))


def _ingest_papers(spark, src: str, store: str) -> int:
    """The paper writer path, JSON → triples → store; the new triple count.
    ``merge_triples`` is looked up at call time, so a traced run's wrapper
    is used."""
    from extremexp_knowledge_graph_spark.operators.papers_to_triples import papers_to_triples
    from extremexp_knowledge_graph_spark.plans import kg_store
    from extremexp_knowledge_graph_spark.sources.papers_json import read_papers_json

    return kg_store.merge_triples(spark, papers_to_triples(read_papers_json(spark, src)), store)


WORKLOADS = {"web_cold": web_cold, "papers_json": papers_json}

# ---------------------------------------------------------------------------
# reporting
# ---------------------------------------------------------------------------

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "triples_per_s": "triples/s", "query_ms_p50": "ms",
    "query_ms_p90": "ms", "queries_per_s": "1/s", "peak_rss_mb": "MB", "store_bytes_per_triple": "B",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in tracing.COUNTERS.items()}
    for name in ("html_extract.pages_in", "linker.mentions_out", "canonicalize.entities_in",
                 "canonicalize.canonicals_out", "materialize.triples_out", "kg_store.new_triples",
                 "manifest.calls", "queries.samples", "trace.spans"):
        units[name] = "count"
    units.update({
        "canonicalize.merge_ratio": "ratio", "kg_store.new_ratio": "ratio",
        "manifest.noop_resume_s": "s", "trace.ingest_wall_s": "s", "trace.query_overhead": "ratio",
    })
    units.update({f"queries.{kind}.ms_p50": "ms" for kind in QUERY_KINDS})
    return units


def end_to_end(run: Run) -> dict[str, float]:
    q_s = sum(run.query_ms) / 1000.0
    return {
        "setup_s": run.setup_s,
        "wall_s": run.ingest_wall,
        "triples_per_s": run.ingest_new / run.ingest_wall if run.ingest_wall else 0.0,
        "query_ms_p50": statistics.median(run.query_ms) if run.query_ms else 0.0,
        "query_ms_p90": _pct(run.query_ms, 90),
        "queries_per_s": len(run.query_ms) / q_s if q_s else 0.0,
        "peak_rss_mb": _tree_peak_rss_mb(),
        "store_bytes_per_triple": run.bytes_per_triple,
    }


def per_layer(run: Run) -> dict[str, float]:
    """Layer counters for the run's one ingest, per traced query
    for ``queries``, and for the one session start."""
    out = {}
    for layer in LAYERS:
        tot = run.layer_totals.get(layer, {})
        div = max(1, run.traced_queries) if layer == "queries" else 1
        out.update({f"{layer}.{c}": tot.get(c, 0.0) / div for c in tracing.COUNTERS})
    x = run.extra
    for name in ("html_extract.pages_in", "linker.mentions_out", "canonicalize.entities_in",
                 "canonicalize.canonicals_out", "canonicalize.merge_ratio", "manifest.noop_resume_s"):
        out[name] = x.get(name, 0.0)
    out["materialize.triples_out"] = x.get("materialized", 0) if run.args.workload == "web_cold" else 0
    out["kg_store.new_triples"] = x.get("new", 0)
    out["kg_store.new_ratio"] = x["new"] / x["materialized"] if x.get("materialized") else 0.0
    out["manifest.calls"] = sum(run.manifest_calls.values())
    for kind in QUERY_KINDS:
        samples = run.query_kind_ms[kind]
        out[f"queries.{kind}.ms_p50"] = statistics.median(samples) if samples else 0.0
    out["queries.samples"] = run.traced_queries
    out["trace.ingest_wall_s"] = run.ingest_wall
    t, u = run.block_ms[True], run.block_ms[False]
    out["trace.query_overhead"] = statistics.median(t) / statistics.median(u) - 1.0 if t and u else 0.0
    out["trace.spans"] = len(run.tracer.spans)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program and this directory must import in this process AND in the
    # Python workers Spark starts, whatever the working directory
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import extremexp_knowledge_graph_spark  # noqa: F401  (fail before any work without the program)

    # every file the run writes (inputs, stores, Spark scratch, temp files)
    # stays under the checkout
    out_root = ROOT / ".perfbench_run"
    work = out_root / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    run = Run(args, work)
    try:
        WORKLOADS[args.workload](run)
        if args.trace:
            metrics, units = per_layer(run), per_layer_units()
            spans = out_root / f"spans-{args.workload}-s{args.seed}.json"
            run.tracer.write(str(spans))
            print(f"spans written to {spans}", file=sys.stderr)
        else:
            metrics, units = end_to_end(run), END_TO_END_UNITS
    finally:
        if run.spark is not None:
            run.stop_session()
        run.con.close()
        shutil.rmtree(work, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    print(f"{args.workload} error_rate = {error_rate:.6g} ratio ({run.failed} failed / {run.attempted} attempted)")
    print(f"{args.workload} query_samples = {len(run.query_ms)} count")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
