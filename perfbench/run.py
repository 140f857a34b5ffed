"""Benchmark of the index builder and query engine.

    python3 perfbench/run.py --workload query --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. Inputs come from the seed
(`gen.py`); the program is driven only through its public entry points
(`run.main` parameter files, `indexer.build`, `indexer.store`,
`indexer.segments`, `indexer.merge`, `Engine`) by one client that waits
for each call before the next (a closed loop of one). Spark runs as
local[4].

Both workloads measure the same two calls, one call per cycle, in
turn: an 8-query bag-of-words batch and a 2-query SDM batch, each
round on queries of its own. They differ in the store the calls read:

* `query` — the base store, through `run.main` parameter files
  (`batchQueries=true`, `segmentsPath`).
* `ingest` — the base store plus one committed delta generation (new
  files, and re-committed paths whose old versions are tombstoned),
  through `Engine.search_daat_many` / `Engine.search_segments_many`.
  The delta is committed before measuring; after measuring the store
  is compacted and the bag-of-words batch is asked again.

Set-up (timed, SETUP_REPS times, median reported as `setup_s`):
generate the corpus and queries, build the index (`build_index_frames`,
arrow builder), save the store (query workload) and build the segment
store. The first set-up also pays the warm-up of the JVM and the
Python workers, as any first build in a new session does.

A call's cost is its median over the run's calls of its kind, taken
three ways and printed as report lines: wall time, the CPU time of the
whole process tree, driver, JVM and Python workers (`tree_cpu_s`), and
that CPU time scaled to a fixed host speed (`REF_CPU_S`). The scaled
CPU times are the end-to-end metrics `bow_batch_scaled_cpu_s` and
`sdm_batch_scaled_cpu_s`. On a shared host the speed of the same calls
drifts by up to 2x within minutes, with the neighbours' load: wall time
takes the full drift, CPU time the part that slows each instruction,
and the scaled CPU time cancels most of that part with a reference loop
timed in the same run.

The last stdout line is the result as one JSON object. `--trace 0`
reports the end-to-end metrics, `--trace 1` turns on Spark's event log
and reports the per-layer metrics (`layers.py`). Outputs are checked
outside the timed interval (`oracle.py`).
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
DRIVER_MEM = "4g"
N_FILES = 1000
BUCKETS = 4
SETUP_REPS = 2
BOW_QUERIES = 8                   # queries in one bag-of-words batch
SDM_QUERIES = 2                   # queries in one SDM batch
QUERY_SETS = 12                   # round r asks set r % QUERY_SETS
# Rounds per run, at least. With a round longer than half of
# `--seconds` (3 s or more at --seconds 6), every run has exactly two,
# so each kind's median is the mean of the same two calls in every run.
MIN_ROUNDS = 2
# Host speed: before every call the run times REF_REPS reference loops
# (`reference_cpu_s`). A call's CPU time times REF_CPU_S / (the run's
# median loop time) is its CPU time on a host where the loop takes
# REF_CPU_S: about its median on the machine the benchmark was made on
# (4-vCPU Xeon VM, 2.1 GHz, Python 3.11), where runs measured
# 0.063-0.123 s as the host's load changed.
REF_CPU_S = 0.1
REF_REPS = 3
CHECK_BOW = 4                     # oracle sample of the bag-of-words batch
DELTA_NEW, DELTA_RECOMMIT = 30, 30
WORKLOADS = ("query", "ingest")

UNITS = {"setup_s": "s", "bow_batch_scaled_cpu_s": "s",
         "sdm_batch_scaled_cpu_s": "s",
         "index_bytes_per_source_byte": "ratio"}


class Tracer:
    """Spans around the benchmark's calls into the program, kept in
    memory. With `tag_jobs`, every Spark job is tagged with the id of
    the innermost open span through `setJobDescription`."""

    def __init__(self, sc, tag_jobs: bool):
        self.sc, self.tag_jobs = sc, tag_jobs
        self.spans: list[dict] = []
        self._open: list[int] = []

    def _tag(self) -> None:
        if self.tag_jobs:
            self.sc.setJobDescription(
                f"span:{self._open[-1]}" if self._open else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._tag()

    def named(self, name: str, after: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= after]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(base, f))
    return total


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the driver, the Spark JVM and its Python workers.
    Exited descendants count through their parents' reaped-children
    times. Unlike wall time, it leaves out time spent waiting for a
    CPU."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:          # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        # utime stime cutime cstime
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLOCK_TICKS


def reference_cpu_s() -> float:
    """CPU seconds of a fixed pure-Python loop in this process: the
    host's speed at this moment."""
    t = time.process_time()
    x = 0
    for i in range(1_000_000):
        x = (x + i * i) % 1_000_003
    return time.process_time() - t


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def start_spark(work: str, trace: bool):
    """local[4] session through the program's own session factory, with
    every scratch path inside `work`."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        # no hsperfdata file under the system temp directory
        + " -XX:-UsePerfData"
        # C1 only: a run is too short for C2 to settle, so with it calls
        # keep speeding up by a step that lands at a different call in
        # each run, and its compiler threads take a core of four
        + " -XX:TieredStopAtLevel=1"
        # C1 only shrinks the default code cache to 48 MB, which Spark
        # fills in under a minute; the JVM then flushes and recompiles
        # tens of thousands of methods, 3-5 CPU s inside one call
        + " -XX:ReservedCodeCacheSize=256m").strip()
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # full plan strings: the profiler reads scan columns from them
            "spark.sql.maxMetadataStringLength": "1000"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir":
                     "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    from search_engines_spark.session import get_spark
    spark = get_spark("perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    """One run: set-up, the measured calls, checks, metrics."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.t0 = time.time()
        self.phases: list[tuple[str, float]] = []
        self.spark = start_spark(work, bool(args.trace))
        self.tracer = Tracer(self.spark.sparkContext, bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.refs: list[float] = []
        self.report: dict[str, tuple[float, str, int]] = {}
        self.phase("spark session")

    def phase(self, name: str) -> None:
        """Mark the end of a phase of the run (printed at the end)."""
        self.phases.append((name, time.time() - self.t0))

    # ----------------------------------------------------------- set-up --

    def generate(self, d: str) -> dict:
        """All inputs of one run, written under `d`."""
        import numpy as np

        import gen
        os.makedirs(d, exist_ok=True)
        corpus = gen.Corpus(self.args.seed, N_FILES)
        rows = gen.sort_rows(corpus.rows)
        path = os.path.join(d, "corpus.parquet")
        gen.write_parquet(rows, path)
        rng = np.random.default_rng([self.args.seed, 1])
        triples = gen.query_triples(corpus, rng, QUERY_SETS * BOW_QUERIES)
        sets = [triples[r * BOW_QUERIES:(r + 1) * BOW_QUERIES]
                for r in range(QUERY_SETS)]
        return {"corpus": corpus, "rows": rows, "corpus_path": path,
                "source_bytes": sum(len(r["content"].encode())
                                    for r in rows),
                "sets": [{"bow": {f"b{r}_{i}": t for i, t in enumerate(ts)},
                          "sdm": {f"s{r}_{i}": t for i, t in
                                  enumerate(ts[:SDM_QUERIES])}}
                         for r, ts in enumerate(sets)]}

    def base_build(self, d: str, save: bool) -> dict:
        from search_engines_spark.indexer.build import (
            build_index_frames, docs_from_code_corpus)
        from search_engines_spark.indexer.segments import build_segments
        from search_engines_spark.indexer.store import save_index
        t = self.tracer
        with t.span("setup.gen"):
            inp = self.generate(d)
        with t.span("build") as sp:
            src = self.spark.read.parquet(inp["corpus_path"])
            docs = docs_from_code_corpus(src).persist()
            idx = build_index_frames(docs, builder="arrow")
            sp["postings"] = idx.postings.count()
        store = os.path.join(d, "store")
        if save:
            with t.span("store.save") as sp:
                save_index(idx, store, include_postings=False)
            sp["bytes"] = dir_bytes(store)
        seg = os.path.join(d, "seg")
        with t.span("segments.build") as sp:
            m = build_segments(idx.postings, idx.doclens, seg,
                               num_buckets=BUCKETS)
        sp.update(blocks=m["blocks"], bytes=dir_bytes(seg))
        self.attempted += 1
        return {**inp, "idx": idx, "docs": docs, "store": store,
                "seg": seg, "dir": d}

    def setup(self, save: bool) -> dict:
        """SETUP_REPS identical set-ups; the last one is kept."""
        times, state = [], None
        for rep in range(SETUP_REPS):
            if state is not None:
                for f in (state["docs"], state["idx"].postings,
                          state["idx"].doclens, state["idx"].doc_map):
                    f.unpersist()
                shutil.rmtree(state["dir"], ignore_errors=True)
            with self.tracer.span("setup", rep=rep) as sp:
                state = self.base_build(
                    os.path.join(self.work, f"rep{rep}"), save)
            times.append(wall(sp))
        self.phase("set-up")
        self.notes.append("set-up repetitions (s): "
                          + " ".join(f"{x:.2f}" for x in times))
        self.check_index(state, save)
        self.setup_s = statistics.median(times)
        self.report["setup_s"] = (self.setup_s, "s", len(times))
        builds = [wall(s) for s in self.tracer.named("build")]
        self.report["build_files_per_s"] = (
            N_FILES / statistics.median(builds), "files/s", len(builds))
        return state

    def check_index(self, st: dict, save: bool) -> None:
        """Per-row content sha256 of the built index (the saved store
        when there is one) against the source rows."""
        from oracle import sha_mismatches
        if save:
            import pyarrow.parquet as pq
            t = pq.read_table(os.path.join(st["store"], "docs"),
                              columns=["ext_id", "sha256"]).to_pydict()
            got = dict(zip(t["ext_id"], t["sha256"]))
        else:
            got = {r["ext_id"]: r["sha256"] for r in
                   st["idx"].docs.select("ext_id", "sha256").collect()}
        bad = sha_mismatches(st["rows"], got)
        if bad:
            self.failed += 1
            self.notes.append(f"index sha256 mismatches: {bad}")

    # ------------------------------------------------------- measurement --

    def call(self, name: str, fn, **attrs) -> dict:
        """One timed operation; an exception counts as a failure."""
        self.attempted += 1
        self.refs += [reference_cpu_s() for _ in range(REF_REPS)]
        cpu = tree_cpu_s()
        with self.tracer.span(name, **attrs) as sp:
            try:
                sp["result"] = fn()
                sp["ok"] = True
            except Exception as e:   # boundary: record and keep measuring
                sp["ok"] = False
                self.failed += 1
                self.notes.append(f"{name} raised {type(e).__name__}: {e}")
        sp["cpu_s"] = tree_cpu_s() - cpu
        return sp

    def measure(self, sets: list[dict]) -> int:
        """Rounds of one call of each kind, one call per cycle, until
        `--seconds` have passed at the end of a round and at least
        MIN_ROUNDS rounds are done, so every kind has the same number of
        samples and a slow call cannot leave a kind with one. Round r
        makes the calls `sets[r % QUERY_SETS]` (kind -> (fn, queries)):
        each round asks a query set of its own, as users ask new
        queries. Returns the last round's set."""
        self.measure_start = t0 = time.time()
        r = 0
        while True:
            i = r % QUERY_SETS
            for kind, (fn, n) in sets[i].items():
                self.call(kind, fn, queries=n, set=i)
            r += 1
            if (r >= MIN_ROUNDS
                    and time.time() - t0 >= self.args.seconds):
                break
        self.phase("measure")
        return i

    # ------------------------------------------------------------- query --

    def batch_file(self, st: dict, name: str, queries: dict[str, str]):
        """Query file and `run.main` parameter file of one batch call;
        returns the parameter file and the run file it writes."""
        import gen
        d = st["dir"]
        qf = os.path.join(d, f"{name}.qry")
        gen.write_query_file(qf, queries)
        out = os.path.join(d, f"{name}.teIn")
        param = os.path.join(d, f"{name}.param")
        gen.write_param_file(
            param, indexPath=st["store"], segmentsPath=st["seg"],
            segmentsBuckets=str(BUCKETS), queryFilePath=qf,
            trecEvalOutputPath=out, retrievalAlgorithm="BM25",
            batchQueries="true")
        return param, out

    def query_calls(self, st: dict) -> list[dict]:
        """Per query set, the two `run.main` batch calls over `st`'s
        store; the run files they write go to `st["out"]`."""
        import gen
        from search_engines_spark import run as runner
        sets, st["out"] = [], []
        for r, qset in enumerate(st["sets"]):
            calls, outs = {}, {}
            for kind, fmt in (("bow_batch", gen.bow_query),
                              ("sdm_batch", gen.sdm_query)):
                qs = qset[kind.split("_")[0]]
                param, outs[kind] = self.batch_file(
                    st, f"{kind}{r}", {q: fmt(t) for q, t in qs.items()})
                calls[kind] = (lambda p=param: runner.main(
                    p, spark=self.spark), len(qs))
            sets.append(calls)
            st["out"].append(outs)
        return sets

    def run_query(self) -> None:
        st = self.setup(save=True)
        last = self.measure(self.query_calls(st))
        self.check_query(st, last)
        self.phase("check")
        self.index_ratio = dir_bytes(st["seg"]) / st["source_bytes"]

    def check_query(self, st: dict, last: int) -> None:
        """The last round's top-k against DuckDB (a fixed sample)."""
        from oracle import Oracle, read_trec
        orc = Oracle(st["rows"])
        try:
            checks = []
            qset, out = st["sets"][last], st["out"][last]
            bow = read_trec(out["bow_batch"])
            for q, t in list(qset["bow"].items())[:CHECK_BOW]:
                checks.append(("bow_batch", bow.get(q, set()),
                               orc.bm25(list(t))))
            sdm = read_trec(out["sdm_batch"])
            for q, t in qset["sdm"].items():
                checks.append(("sdm_batch", sdm.get(q, set()), orc.sdm(t)))
        finally:
            orc.close()
        for what, got, want in checks:
            if not want or got != want:
                self.failed += 1
                self.notes.append(
                    f"{what}: top-k differs from the oracle "
                    f"({len(got ^ want)} of {len(want)} pairs)")

    # ------------------------------------------------------------ ingest --

    def commit(self, st: dict, eng) -> int:
        """Commit one delta generation the way `update_segments` does:
        append the new versions, then tombstone the superseded ones
        (each step in its own span). Returns the live source bytes."""
        import numpy as np
        from pyspark.sql import functions as F

        from search_engines_spark.indexer.build import (
            build_postings_arrow, docs_from_code_corpus)
        from search_engines_spark.indexer.merge import (
            append_segments, delete_docs, superseded_doc_ids)
        rng = np.random.default_rng([self.args.seed, 2])
        delta, picks = st["corpus"].delta(rng, 1, DELTA_NEW,
                                          DELTA_RECOMMIT, st["rows"])
        schema = ("repo string, path string, commit string, lang string, "
                  "content string")
        seg = st["seg"]

        def commit():
            src = self.spark.createDataFrame(delta, schema)
            ddocs = docs_from_code_corpus(src).withColumn(
                "doc_id", F.col("doc_id") + F.lit(len(st["rows"])))
            with self.tracer.span("merge.append"):
                m = append_segments(
                    build_postings_arrow(ddocs, text_col="content"),
                    seg, num_buckets=BUCKETS)
            with self.tracer.span("merge.delete"):
                m.update(delete_docs(self.spark, seg,
                                     superseded_doc_ids(st["docs"], src)))
            # the attribute side of the commit: new docs resolve to
            # their ext_ids
            new_map = self.spark.createDataFrame(
                ddocs.select("doc_id", "ext_id").collect(),
                "doc_id long, ext_id string")
            eng.index = dataclasses.replace(
                eng.index, doc_map=eng.index.doc_map.unionByName(new_map))
            return m

        sp = self.call("commit", commit, files=len(delta))
        sp["delta_bytes"] = dir_bytes(os.path.join(seg, "_delta", "gen=1"))
        self.report["commit_s"] = (wall(sp), "s", 1)
        old = sum(len(st["rows"][p]["content"].encode()) for p in picks)
        new = sum(len(r["content"].encode()) for r in delta)
        return st["source_bytes"] - old + new

    @staticmethod
    def engine(st: dict):
        from search_engines_spark.engine.compile import Engine
        eng = Engine(dataclasses.replace(st["idx"]), "bm25")
        eng.attach_segments(st["seg"], num_buckets=BUCKETS)
        return eng

    @staticmethod
    def engine_calls(eng, st: dict) -> list[dict]:
        """Per query set, the two batch calls through `eng` over its
        segment store."""
        import gen
        sets = []
        for qset in st["sets"]:
            bow = {q: gen.bow_query(t) for q, t in qset["bow"].items()}
            sdm = {q: gen.sdm_query(t) for q, t in qset["sdm"].items()}
            sets.append({
                "bow_batch": (lambda bow=bow: eng.search_daat_many(
                    bow, k=100).collect(), len(bow)),
                "sdm_batch": (lambda sdm=sdm: eng.search_segments_many(
                    sdm, k=100).collect(), len(sdm))})
        return sets

    def run_ingest(self) -> None:
        from search_engines_spark.indexer.merge import (
            compact_segments, live_generations)
        st = self.setup(save=False)
        eng = self.engine(st)
        live_bytes = self.commit(st, eng)
        self.phase("commit")
        sets = self.engine_calls(eng, st)
        last = self.measure(sets)
        gens = len(live_generations(st["seg"]))
        sp = self.call("compact", lambda: compact_segments(
            self.spark, st["seg"], num_buckets=BUCKETS),
            live_generations=gens)
        self.report["compact_s"] = (wall(sp), "s", 1)
        fn, n = sets[last]["bow_batch"]
        after = self.call("compacted_bow_batch", fn, queries=n)
        self.phase("compact")
        # the merged store's last answer and the compacted store's
        # must be identical
        before = self.tracer.named("bow_batch")[-1]
        b, a = ({(r["qid"], r["doc_id"], r["score"])
                 for r in s.get("result") or []} for s in (before, after))
        if not b or a != b:
            self.failed += 1
            self.notes.append("ingest: top-k changed across compaction")
        self.index_ratio = dir_bytes(st["seg"]) / live_bytes

    # ----------------------------------------------------------- metrics --

    def measured(self, kind: str) -> list[dict]:
        return self.tracer.named(kind, self.measure_start)

    def finish_report(self) -> None:
        self.p50 = {}
        ref = statistics.median(self.refs)
        speed = REF_CPU_S / ref
        self.notes.append(f"reference loop: median {ref:.4f} CPU s over "
                          f"{len(self.refs)}; calls scaled by {speed:.3f}")
        for kind, per in (("bow_batch", BOW_QUERIES),
                          ("sdm_batch", SDM_QUERIES)):
            calls = self.measured(kind)
            xs = [wall(s) for s in calls]
            cs = [s["cpu_s"] for s in calls]
            self.p50[kind] = statistics.median(xs)
            self.p50[kind + "_cpu"] = statistics.median(cs)
            self.notes.append(f"{kind} calls (s): "
                              + " ".join(f"{x:.2f}" for x in xs))
            self.notes.append(f"{kind} calls (CPU s): "
                              + " ".join(f"{x:.2f}" for x in cs))
            self.report[f"{kind}_s"] = (self.p50[kind], "s", len(xs))
            self.report[f"{kind}_cpu_s"] = (self.p50[kind + "_cpu"], "s",
                                            len(cs))
            self.p50[kind + "_scaled"] = self.p50[kind + "_cpu"] * speed
            self.report[f"{kind}_scaled_cpu_s"] = (
                self.p50[kind + "_scaled"], "s", len(cs))
            self.report[f"{kind.split('_')[0]}_queries_per_s"] = (
                per / self.p50[kind], "queries/s", len(xs))
        self.report["index_bytes_per_source_byte"] = (
            self.index_ratio, "ratio", 1)
        sc = self.spark.sparkContext
        self.cached_mb = sum(r.memSize() for r in
                             sc._jsc.sc().getRDDStorageInfo()) / 2**20
        self.report["cached_mb"] = (self.cached_mb, "MB", 1)
        self.report["failed_ops_ratio"] = (
            self.failed / max(1, self.attempted), "ratio", self.attempted)

    def end_to_end(self) -> dict:
        vals = {"setup_s": self.setup_s,
                "bow_batch_scaled_cpu_s": self.p50["bow_batch_scaled"],
                "sdm_batch_scaled_cpu_s": self.p50["sdm_batch_scaled"],
                "index_bytes_per_source_byte": self.index_ratio}
        return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "search_engines_spark",
                                       "__init__.py")):
        print("perfbench: no search_engines_spark package next to "
              f"{HERE}; run from the root of a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = None
    try:
        bench = Bench(args, work)
        getattr(bench, f"run_{args.workload}")()
        bench.finish_report()
        if args.trace:
            import layers
            metrics = layers.per_layer(bench, work)
        else:
            metrics = bench.end_to_end()
    finally:
        if bench is not None:
            stop_spark(bench.spark)
            bench.phase("stop")
        shutil.rmtree(work, ignore_errors=True)
    for note in bench.notes:
        print(f"note: {note}")
    for name, at in bench.phases:
        print(f"phase {name:14s} ends at {at:7.2f} s")
    for name, (value, unit, n) in bench.report.items():
        print(f"{args.workload:7s} {name:30s} {value:14.6g} {unit:10s} "
              f"n={n}")
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
