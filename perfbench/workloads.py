"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation
starts only after the previous one has returned and been checked.  An
operation is one diffdb job (dump workloads) or one catalog query from
build to collected, oracle-checked result (catalog workloads); a pass is
the workload's list of operations run once.

Every operation's output is checked.  An exception or a failed check
counts as a failed operation and the run goes on.
"""

from __future__ import annotations

import contextlib
import gzip
import os
import random
import sys
import time
import traceback

import gen
from probes import JobGroups, Py4jCounter, RssSampler, Tracer, event_log_metrics, median, pct

MiB = 1 << 20

# The diffdb CLI's default --split-size.
CLI_SPLIT = 32 * MiB

# The six dedup and curation catalog queries of the catalog-heavy workload.
HEAVY_QUERIES = (
    "curate_pipeline",
    "semantic_dedup",
    "ngram_overlap",
    "embedding_cosine_dedup_int8",
    "dedup_clusters",
    "minhash_lsh_pairs",
)

# Queries of catalog-relay in --tiny mode: two from the pure-plan memo
# whose wrong third-pass answers are known, and one that is not memoized.
TINY_RELAY_QUERIES = ("scalar_subquery", "correlated_exists", "dedup_clusters")

# Columns build_diffdb reads from the source, without ``ops``.
DIFFDB_SOURCE_COLS = (
    "page_id", "title", "ns", "rev_id", "ts", "comment", "minor",
    "user_id", "user_text", "beginningofpage",
)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, state, seed, seconds, trace, tiny, inject):
        self.cache = os.path.join(state, "cache")
        self.out = os.path.join(state, "out")
        self.event_log = os.path.join(state, "eventlog")
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tiny = tiny
        self.inject = inject
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(False)
        self.spark = None
        self.py4j = None
        self.groups = None
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.op_times: list[float] = []  # timed part of every operation
        self.last_job: dict = {}
        self.build_calls: list[int] = []

    # -- bookkeeping ----------------------------------------------------

    def outcome(self, what: str, ok: bool, msg: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}: {msg}", file=sys.stderr, flush=True)

    def guarded(self, what: str, fn):
        """Run ``fn`` as one operation; an exception is a failure."""
        try:
            return fn()
        except Exception as e:  # the run must survive any failed op
            tb = traceback.format_exc(limit=3)
            self.outcome(what, False, f"{type(e).__name__}: {str(e)[:300]}\n{tb}")
            return None

    # -- session --------------------------------------------------------

    def start_session(self) -> float:
        from wikihadoop_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextlib.contextmanager
    def timed_op(self):
        """The timed part of one operation; its wall time goes to
        ``op_times``."""
        t0 = time.perf_counter()
        yield
        self.op_times.append(time.perf_counter() - t0)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase; printed to stderr."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            print(f"setup {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr, flush=True)

    def op_scope(self, name: str):
        """Per-operation tracing scope: a job group and an op id."""
        if not self.tracer.enabled:
            return contextlib.nullcontext()
        self.tracer.op_id += 1
        return self.groups.group(name)


def closed_loop(run: Run, one_pass, seconds: float, min_passes: int = 1) -> list[float]:
    """Back-to-back passes until ``seconds`` have elapsed.  Returns each
    pass's time: the sum of its operations' timed parts, which leave out
    the output checks."""
    times: list[float] = []
    deadline = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < deadline:
        mark = len(run.op_times)
        one_pass()
        times.append(sum(run.op_times[mark:]))
        print(f"pass {len(times)}: {times[-1]:.3f} s", file=sys.stderr, flush=True)
    return times


def setup(run: Run, prepare) -> None:
    """Session start (JVM launch included), native kernel build or load,
    then ``prepare()``: inputs, oracles, warm-up.  Records setup_s."""
    from wikihadoop_spark.functions import native

    t0 = time.perf_counter()
    run.layers["session.start_s"] = (run.start_session(), "s")
    tn = time.perf_counter()
    kernel = native.load()
    run.layers["functions.native_build_s"] = (time.perf_counter() - tn, "s")
    run.layers["functions.native_kernel"] = (1.0 if kernel is not None else 0.0, "bool")
    prepare()
    run.report["setup_s"] = (time.perf_counter() - t0, "s")
    print(f"setup: {run.report['setup_s'][0]:.2f} s", file=sys.stderr, flush=True)


def measure(run: Run, one_pass, min_passes: int = 1, cycle: int = 1) -> list[float]:
    """The measured phase, with the process tree's RSS sampled.

    A traced run alternates blocks of ``cycle`` traced passes with
    blocks of ``cycle`` untraced ones, so that trace.overhead_frac
    compares the two under the same warm-up drift.  A workload whose
    passes step through a cycle of scale factors passes that cycle's
    length, so each block covers every scale factor once and the
    overhead is taken per position in the cycle.  Returns the traced
    passes' times."""
    with RssSampler() as rss:
        if not run.trace:
            times = closed_loop(run, one_pass, run.seconds, min_passes)
        else:
            run.groups = JobGroups(run.spark)
            count = {"i": 0}

            def alternating() -> None:
                traced = run.tracer.enabled = (count["i"] // cycle) % 2 == 0
                count["i"] += 1
                if not traced:
                    one_pass()
                    return
                run.py4j = Py4jCounter(run.spark)
                try:
                    one_pass()
                finally:
                    run.py4j.close()

            both = closed_loop(run, alternating, run.seconds, max(2 * cycle, min_passes))
            traced = [(i % cycle, t) for i, t in enumerate(both) if (i // cycle) % 2 == 0]
            plain = [(i % cycle, t) for i, t in enumerate(both) if (i // cycle) % 2 == 1]
            ratios = []
            for k in range(cycle):
                a = [t for j, t in traced if j == k]
                b = [t for j, t in plain if j == k]
                if a and b:
                    ratios.append(median(a) / median(b) - 1.0)
            run.layers["trace.overhead_frac"] = (sum(ratios) / len(ratios), "frac")
            times = [t for _, t in traced]
            run.tracer.enabled = True
    run.report["peak_rss_mb"] = (rss.peak / MiB, "MB")
    return times


def finish_trace(run: Run, name: str) -> None:
    """Counts that need a live context, then stop it and read the event
    log, then write the spans."""
    run.layers.update({k: (v, "count") for k, v in run.groups.counts().items()})
    run.stop_session()
    units = {"spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
             "spark.gc_s": "s", "spark.scan_task_skew": "ratio"}
    for k, v in event_log_metrics(run.event_log, run.groups.groups).items():
        run.layers[k] = (v, units[k])
    run.tracer.write(os.path.join(run.out, f"spans-{name}-seed{run.seed}.jsonl"))


# ---- dump workloads -----------------------------------------------------------


class Dump:
    """diffdb over a generated history dump.

    ``sink="aggregate"``: row count, first-revision count and total op
    count, collected; nothing is written.  ``sink="tsv"``: the diffdb
    CLI's path, ``build_diffdb`` then ``write_diffdb_tsv`` (dedup,
    global sort, gzip)."""

    def __init__(self, name: str, kind: str, bz2: bool, sink: str, size: int):
        self.name, self.kind, self.bz2, self.sink, self.size = name, kind, bz2, sink, size

    def split(self, run: Run, man: dict) -> int:
        if self.bz2:
            # the CLI default exceeds the whole compressed file, which
            # would leave all but one core idle: split it per core
            return -(-man["bz2_bytes"] // run.cpus)
        return CLI_SPLIT

    def path(self, man: dict) -> str:
        return man["bz2_path"] if self.bz2 else man["path"]

    def job(self, run: Run, man: dict, split: int, expect: dict) -> None:
        from pyspark.sql import functions as F

        from wikihadoop_spark.plans.diffdb import build_diffdb, write_diffdb_tsv
        from wikihadoop_spark.sources.wikidump import read_wikidump

        spark, tr = run.spark, run.tracer
        with run.op_scope(self.name), tr.span("op"):
            with run.timed_op():
                with tr.span("sources.read_wikidump"):
                    revs = read_wikidump(spark, self.path(man), splitSize=str(split), compute_diffs="true")
                with tr.span("plans.build_diffdb"):
                    diffdb = build_diffdb(revs, paired=True)
                if self.sink == "aggregate":
                    agg = diffdb.select(
                        F.count(F.lit(1)).alias("revisions"),
                        F.sum(F.col("beginningofpage").cast("int")).alias("pages"),
                        F.sum(F.size("ops")).alias("ops"),
                    )
                    if tr.enabled:
                        with tr.span("spark.plan"):
                            agg._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec"):
                        row = agg.collect()[0]
                else:
                    if tr.enabled:
                        # the build's plan; the write plans its sort
                        # and format on top of it
                        with tr.span("spark.plan"):
                            diffdb._jdf.queryExecution().executedPlan()
                    out = os.path.join(run.out, f"tsv-{self.name}")
                    with tr.span("plans.write_diffdb_tsv"), tr.span("spark.exec"):
                        write_diffdb_tsv(diffdb, out)
        if self.sink == "aggregate":
            got = {"revisions": row["revisions"], "pages": row["pages"], "ops": row["ops"]}
        else:
            got = check_tsv(out)
            got["tsv_bytes"] = sum(
                os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.startswith("part-")
            )
        bad = [k for k in ("revisions", "pages") if got.get(k) != expect[k]]
        if "ops" in got:
            # every job over one corpus must produce the same op count
            expect.setdefault("ops", got["ops"])
            if got["ops"] != expect["ops"]:
                bad.append("ops")
        if got.get("order_errors") or got.get("duplicates"):
            bad.append("tsv order/duplicates")
        run.outcome(f"{self.name} job", not bad, f"{bad}: got {got}, expected {expect}")
        run.last_job = got

    def run(self, run: Run) -> None:
        size = 2 * MiB if run.tiny else self.size
        state = {}

        def prepare() -> None:
            with run.phase("inputs"):
                man = state["man"] = gen.dump_corpus(
                    run.cache, self.kind, run.seed, size, with_bz2=self.bz2, workers=run.cpus)
            # warm-up: one checked job over the corpus starts every
            # Python worker and compiles the plan, so that the first
            # measured job runs as warm as the rest
            with run.phase("warm-up"):
                run.guarded(f"{self.name} warm-up", lambda: self.job(
                    run, man, self.split(run, man), {"revisions": man["revisions"], "pages": man["pages"]}))

        setup(run, prepare)
        man = state["man"]
        split = self.split(run, man)
        expect = {"revisions": man["revisions"], "pages": man["pages"]}
        if run.inject:
            expect["revisions"] += 1
        times = measure(
            run, lambda: run.guarded(f"{self.name} job", lambda: self.job(run, man, split, expect)), min_passes=3)
        xml_gb = man["bytes"] / 1e9
        job_s = median(times)
        run.report["pass_s_p50"] = (job_s, "s")
        run.report["job_s_p50"] = (job_s, "s")
        run.report["xml_gb_per_core_hour"] = (xml_gb / (job_s * run.cpus / 3600.0), "GB/core-h")
        run.report["jobs"] = (len(times), "count")
        if run.trace:
            self.trace_layers(run, man, split)
            finish_trace(run, self.name)

    def trace_layers(self, run: Run, man: dict, split: int) -> None:
        tr = run.tracer
        build = tr.durations("plans.build_diffdb")
        run.layers["plans.build_s"] = (median(build), "s")
        run.layers["plans.sink_s"] = (median(tr.durations("plans.write_diffdb_tsv")), "s")
        run.layers["spark.plan_s_p50"] = (median(tr.durations("spark.plan")), "s")
        run.layers["spark.exec_s_p50"] = (median(tr.durations("spark.exec")), "s")
        tsv = run.last_job.get("tsv_bytes", 0)
        run.layers["plans.tsv_bytes_per_xml_byte"] = (tsv / man["bytes"], "ratio")
        run.layers["sources.revisions"] = (float(man["revisions"]), "count")
        run.guarded(f"{self.name} sampled partition", lambda: self.sample_partition(run, man, split))

    def sample_partition(self, run: Run, man: dict, split: int) -> None:
        """One partition of the job, read single-core in this process
        through the source's reader: with and without the diff, the bzip2
        decode alone, then every pair's ops replayed with apply_diff."""
        from pyspark.sql.types import StructType

        from wikihadoop_spark.functions.diffs import apply_diff, token_diff
        from wikihadoop_spark.sources.wikidump import WikidumpReader, read_wikidump

        tr = run.tracer
        path = self.path(man)
        full = read_wikidump(run.spark, path, splitsize=str(split), compute_diffs="true").schema
        opts = {"path": path, "splitsize": str(split), "compute_diffs": "true"}

        def reader(cols):
            return WikidumpReader(StructType([full[c] for c in cols]), opts)

        parts = reader(DIFFDB_SOURCE_COLS).partitions()
        run.layers["sources.partitions"] = (float(len(parts)), "count")
        part = parts[random.Random(run.seed).randrange(len(parts))]

        def timed_read(cols, span):
            rows = batches = 0
            with tr.span(span):
                t0 = time.perf_counter()
                for b in reader(cols).read(part):
                    rows += b.num_rows
                    batches += 1
                return time.perf_counter() - t0, rows, batches

        t_scan, rows, batches = timed_read(DIFFDB_SOURCE_COLS, "sources.read_partition")
        t_ops, _, _ = timed_read(DIFFDB_SOURCE_COLS + ("ops",), "functions.read_partition_with_ops")
        if self.bz2:
            from wikihadoop_spark.sources.bz2blocks import Bz2BlockStream

            with tr.span("sources.bz2_decode"):
                t0 = time.perf_counter()
                stream = Bz2BlockStream(path, part.start, part.end)
                got = 0
                try:
                    while stream.owned_end is None or got < stream.owned_end:
                        chunk = stream.read(1 << 20)
                        if not chunk:
                            break
                        got += len(chunk)
                finally:
                    stream.close()
                t_bz2 = time.perf_counter() - t0
            xml_bytes = stream.owned_end if stream.owned_end is not None else got
            run.layers["sources.bz2_decode_mb_per_s"] = (xml_bytes / MiB / t_bz2, "MB/s")
        else:
            xml_bytes = min(part.end, man["bytes"]) - part.start
        run.layers["sources.scan_mb_per_s"] = (xml_bytes / MiB / t_scan, "MB/s")
        run.layers["sources.batches"] = (float(batches), "count")
        run.layers["functions.diff_s_share"] = ((t_ops - t_scan) / t_ops, "frac")

        pairs, bad, n_ops = [], 0, 0
        for b in reader(("rev_id", "prev_text", "text", "ops")).read(part):
            for r in b.to_pylist():
                prev, text = r["prev_text"] or "", r["text"] or ""
                ops = [(o["position"], o["action"], o["content"]) for o in r["ops"]]
                n_ops += len(ops)
                if apply_diff(prev, ops) != text:
                    bad += 1
                pairs.append((prev, text))
        run.outcome(f"{self.name} apply_diff over sampled partition", bad == 0,
                    f"{bad} of {len(pairs)} pairs do not reconstruct")
        with tr.span("functions.token_diff"):
            t0 = time.perf_counter()
            for prev, text in pairs:
                for _ in token_diff(prev, text):
                    pass
            t_diff = time.perf_counter() - t0
        run.layers["functions.diff_pairs_per_s"] = (len(pairs) / t_diff if t_diff else 0.0, "1/s")
        run.layers["functions.ops_per_revision"] = (n_ops / len(pairs) if pairs else 0.0, "ratio")


def check_tsv(out: str) -> dict:
    """Counts of a diffdb TSV output: lines, distinct pages, duplicate
    rev_ids and lines out of (page_id, rev_id) order, over the part
    files in name order."""
    lines = dups = order_errors = 0
    pages: set[int] = set()
    seen: set[int] = set()
    last = (-1, -1)
    for name in sorted(f for f in os.listdir(out) if f.startswith("part-")):
        opener = gzip.open if name.endswith(".gz") else open
        with opener(os.path.join(out, name), "rt", encoding="utf-8", newline="\n") as fh:
            for line in fh:
                rev_s, page_s, _ = line.split("\t", 2)
                key = (int(page_s), int(rev_s))
                lines += 1
                if key[1] in seen:
                    dups += 1
                seen.add(key[1])
                pages.add(key[0])
                if key < last:
                    order_errors += 1
                last = key
    return {"revisions": lines, "pages": len(pages), "duplicates": dups, "order_errors": order_errors}


# ---- catalog workloads --------------------------------------------------------


class Catalog:
    """Catalog queries against their DuckDB oracles, in one long-lived
    driver.  ``passes`` lists the scale factor of each pass in order;
    the list repeats while time remains."""

    def __init__(self, name, queries, passes: tuple[float, ...], min_passes: int, tiny_passes=None):
        self.name, self.queries, self.min_passes = name, queries, min_passes
        self.passes, self.tiny_passes = passes, tiny_passes or passes

    def query_names(self, run: Run) -> list[str]:
        from wikihadoop_spark.relational import QUERIES

        if self.queries is not None:
            return list(self.queries)
        return list(TINY_RELAY_QUERIES) if run.tiny else list(QUERIES)

    def oracles(self, run: Run, dirs: dict, names: list[str]) -> dict:
        """Expected (sorted column names, row multiset) per (query, sf)."""
        from parity_util import _rows_to_multiset, check_duck_output_types, duckdb_conn

        from wikihadoop_spark.relational import ORACLE

        expected = {}
        for sf, d in dirs.items():
            con = duckdb_conn(d)
            try:
                for q in names:
                    if q not in ORACLE:
                        continue
                    check_duck_output_types(con, ORACLE[q])
                    res = con.execute(ORACLE[q])
                    cols = [c[0].lower() for c in res.description]
                    expected[(q, sf)] = (sorted(cols), _rows_to_multiset(cols, res.fetchall()))
            finally:
                con.close()
        return expected

    def query(self, run: Run, q: str, sf: float, d: str, expected: dict) -> None:
        from parity_util import _rows_to_multiset

        from wikihadoop_spark.relational import QUERIES

        tr = run.tracer
        with run.op_scope(q), tr.span("op"), run.timed_op():
            if tr.enabled:
                with run.py4j.count() as calls, tr.span("relational.build"):
                    df = QUERIES[q](run.spark, d)
                run.build_calls.append(calls())
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"), tr.span(f"operators.exec.{q}"):
                    rows = df.collect()
            else:
                df = QUERIES[q](run.spark, d)
                rows = df.collect()
        exp = expected.get((q, sf))
        if exp is None:  # no oracle: it must run and have columns
            run.outcome(f"{q}@sf{sf}", bool(df.columns), "no columns")
            return
        cols = [c.lower() for c in df.columns]
        got = _rows_to_multiset(cols, [tuple(r) for r in rows])
        ok = sorted(cols) == exp[0] and got == exp[1]
        run.outcome(f"{q}@sf{sf}", ok, f"{len(rows)} rows, oracle {sum(exp[1].values())} rows")

    def run(self, run: Run) -> None:
        passes = self.tiny_passes if run.tiny else self.passes
        names = self.query_names(run)
        sfs = sorted(set(passes))
        state = {}

        def prepare() -> None:
            with run.phase("inputs"):
                dirs = {sf: gen.catalog_dir(run.cache, run.seed, sf)["path"] for sf in sfs}
            with run.phase("oracles"):
                expected = self.oracles(run, dirs, names)
            if run.inject:
                # one wrong expected answer: that query must fail every pass
                q, sf = next(k for k in expected if k[1] == passes[0])
                cols, ms = expected[(q, sf)]
                ms = ms.copy()
                ms[next(iter(ms))] += 1
                expected[(q, sf)] = (cols, ms)
            state.update(dirs=dirs, expected=expected)
            if len(sfs) == 1:
                # warm-up: one checked pass; a workload that alternates
                # scale factors has none, so its first pass runs cold
                sf = sfs[0]
                with run.phase("warm-up"):
                    for q in names:
                        run.guarded(f"{q} warm-up", lambda q=q: self.query(run, q, sf, dirs[sf], expected))

        setup(run, prepare)
        dirs, expected = state["dirs"], state["expected"]
        cycle = {"i": 0}

        def one_pass() -> None:
            sf = passes[cycle["i"] % len(passes)]
            cycle["i"] += 1
            for q in names:
                run.guarded(f"{q}@sf{sf}", lambda q=q: self.query(run, q, sf, dirs[sf], expected))

        mark = len(run.op_times)
        times = measure(run, one_pass, self.min_passes, cycle=len(passes))
        lat = run.op_times[mark:]
        run.report["pass_s_p50"] = (median(times), "s")
        run.report["passes"] = (len(times), "count")
        run.report["query_s_p50"] = (median(lat), "s")
        run.report["query_s_p90"] = (pct(lat, 0.9), "s")
        run.report["queries"] = (len(lat), "count")
        if run.trace:
            tr = run.tracer
            builds = tr.durations("relational.build")
            run.layers["relational.build_s_p50"] = (median(builds), "s")
            run.layers["relational.build_s_p90"] = (pct(builds, 0.9), "s")
            run.layers["relational.py4j_calls_per_build"] = (
                sum(run.build_calls) / len(run.build_calls) if run.build_calls else 0.0, "count")
            run.layers["spark.plan_s_p50"] = (median(tr.durations("spark.plan")), "s")
            run.layers["spark.exec_s_p50"] = (median(tr.durations("spark.exec")), "s")
            for q in HEAVY_QUERIES:
                run.layers[f"operators.exec_s.{q}"] = (median(tr.durations(f"operators.exec.{q}")), "s")
            finish_trace(run, self.name)


WORKLOADS = {
    "dump-append": Dump("dump-append", "append", bz2=False, sink="aggregate", size=120 * MiB),
    "dump-markup-bz2-tsv": Dump("dump-markup-bz2-tsv", "markup", bz2=True, sink="tsv", size=24 * MiB),
    "catalog-heavy": Catalog("catalog-heavy", HEAVY_QUERIES, passes=(0.01,), min_passes=3, tiny_passes=(0.001,)),
    "catalog-relay": Catalog("catalog-relay", None, passes=(0.01, 0.001), min_passes=3),
}
