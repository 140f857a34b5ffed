"""Per-layer metrics of a traced run.

Every Spark job of a traced run carries the id of the benchmark span
that was open when it started (`setJobDescription`), so each stage of
the event log (`eventlog.py`) belongs to one call into the program.
Within a call, a stage's time goes to a layer by its physical
operators:

* a Python kernel (`*InPandas`) -> the module that owns it: the arrow
  builder (`build` spans), the segment encoder (`segments.build`,
  `merge.append`), the DAAT kernel (bag-of-words queries), the segment
  decoder (structured queries, kernel in the same stage as the segment
  scan) or the structured zipper (structured queries, after an
  exchange);
* Window / WindowGroupLimit / TakeOrderedAndProject -> top-k;
* a scan of segment blocks -> `indexer.segments`; a scan of the saved
  index tables -> `indexer.store`.

Set-up layers (build, store save, segment encode) are medians over the
set-up repetitions. Query-side layers are totals over the measured
calls divided by their number: per bag-of-words call for `daat.*`, per
SDM call for `structured.*` and `segments.decode_python_s`, per call of
either kind for the rest, unless the name says per query.
"""

from __future__ import annotations

import json
import os
import statistics

from eventlog import TOPK_OPS, find_log, profile, read_events

KERNEL_OPS = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")

NAMES = [
    ("driver.plan_s", "s"), ("driver.idle_s", "s"),
    ("driver.jobs_per_query", "count"), ("driver.stages_per_query", "count"),
    ("store.open_s", "s"), ("store.save_s", "s"),
    ("store.bytes_written", "bytes"),
    ("build.postings_s", "s"), ("build.python_worker_s", "s"),
    ("build.tasks", "count"), ("build.task_skew", "ratio"),
    ("build.spill_bytes", "bytes"), ("build.gc_s", "s"),
    ("build.postings", "count"),
    ("segments.encode_s", "s"), ("segments.blocks_written", "count"),
    ("segments.bytes_written", "bytes"),
    ("segments.files_read", "count"), ("segments.bytes_read", "bytes"),
    ("segments.rows_scanned", "count"),
    ("segments.scan_useful_ratio", "ratio"),
    ("segments.decode_python_s", "s"),
    ("daat.python_worker_s", "s"), ("daat.kernel_tasks", "count"),
    ("daat.task_skew", "ratio"), ("daat.shuffle_bytes", "bytes"),
    ("daat.rows_in", "count"), ("daat.rows_out", "count"),
    ("structured.python_worker_s", "s"),
    ("structured.shuffle_bytes", "bytes"), ("structured.tasks", "count"),
    ("structured.task_skew", "ratio"),
    ("topk.executor_s", "s"), ("topk.rows_in", "count"),
    ("merge.append_s", "s"), ("merge.delete_s", "s"),
    ("merge.compact_s", "s"), ("merge.buckets_rebuilt", "count"),
    ("merge.compact_bytes_written", "bytes"),
    ("merge.write_amplification", "ratio"),
    ("merge.live_generations", "count"),
    ("merge.read_files_per_query", "count"),
    ("spark.tasks", "count"), ("spark.task_wait_s", "s"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"), ("spark.cached_mb", "MB"),
    ("trace.bow_batch_s", "s"), ("trace.sdm_batch_s", "s"),
    ("trace.bow_batch_scaled_cpu_s", "s"),
    ("trace.sdm_batch_scaled_cpu_s", "s"),
    ("trace.collapsed_kernel_stages", "count"),
]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


def _is_segment_scan(node) -> bool:
    return node.name.startswith("Scan") and "docids_vb" in node.detail


def _is_store_scan(node) -> bool:
    return (node.name.startswith("Scan parquet")
            and "docids_vb" not in node.detail
            and "content" not in node.detail)


def _filter_above(node):
    """The Filter that consumes a scan (through columnar adapters)."""
    n = node.parent
    while n is not None and n.name in ("ColumnarToRow", "InputAdapter"):
        n = n.parent
    return n if n is not None and n.name == "Filter" else None


def _value(stage, node, metric: str) -> float:
    for acc, (name, _) in node.metrics.items():
        if name == metric and acc in stage.node_values:
            return stage.node_values[acc]
    return 0.0


def _scan_totals(stages, pred) -> tuple[float, float, float, float]:
    """(files, bytes, rows scanned, rows kept by the filter above) over
    the scan nodes matching `pred`."""
    files = nbytes = rows = kept = 0.0
    for st in stages:
        for node in {id(n): n for n in st.nodes.values()}.values():
            if not pred(node):
                continue
            files += _value(st, node, "number of files read")
            nbytes += _value(st, node, "size of files read")
            r = _value(st, node, "number of output rows")
            rows += r
            f = _filter_above(node)
            kept += _value(st, f, "number of output rows") if f else r
    return files, nbytes, rows, kept


def _kernel(stage) -> bool:
    """The stage ran a Python kernel (it sent data to Python workers; a
    scan of a cached frame also reports the cached plan's Python nodes,
    but ships nothing)."""
    return stage.python_bytes > 0


def _collapsed(stage) -> bool:
    """Round-5 signature: a Python kernel stage whose input exchange AQE
    coalesced (an AQEShuffleRead in the stage) ran as ONE task over more
    than one shuffle block. An explicit-width kernel exchange is never
    coalesced, so at HEAD no kernel stage reads through AQEShuffleRead."""
    return (_kernel(stage) and stage.tasks == 1
            and stage.has_op(("AQEShuffleRead",))
            and stage.shuffle_blocks > 1)


def per_layer(bench, work: str) -> dict:
    spans = bench.tracer.spans
    prof = profile(read_events(find_log(os.path.join(work, "eventlog"))))

    def owner(desc: str):
        if not desc.startswith("span:"):
            return None
        return spans[int(desc.split(":")[1])]

    by_span: dict[int, list] = {}
    for st in prof.stages:
        sp = owner(st.description)
        if sp is not None:
            by_span.setdefault(sp["id"], []).append(st)
    jobs_by_span: dict[int, list] = {}
    for job in prof.jobs:
        sp = owner(job.description)
        if sp is not None:
            jobs_by_span.setdefault(sp["id"], []).append(job)

    def spans_of(name):
        return [s for s in spans if s["name"] == name]

    def stages_in(sps):
        return [st for s in sps for st in by_span.get(s["id"], [])]

    # the measured calls (no nested spans), per kind
    bow_calls = bench.measured("bow_batch")
    sdm_calls = bench.measured("sdm_batch")
    calls = bow_calls + sdm_calls
    n_calls, n_bow, n_sdm = len(calls), len(bow_calls), len(sdm_calls)
    m: dict[str, float] = {}

    # driver: time outside Spark jobs
    n_queries = sum(s["queries"] for s in calls)
    plan, idle, n_jobs = [], [], 0
    for s in calls:
        jobs = jobs_by_span.get(s["id"], [])
        n_jobs += len(jobs)
        plan.append(min((j.submit_ms / 1e3 for j in jobs),
                        default=s["end"]) - s["start"])
        covered, cur_s, cur_e = 0.0, None, None
        for js, je in sorted((j.submit_ms / 1e3, j.complete_ms / 1e3)
                             for j in jobs):
            if cur_e is None or js > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = js, je
            else:
                cur_e = max(cur_e, je)
        if cur_e is not None:
            covered += cur_e - cur_s
        idle.append(_wall(s) - covered)
    m["driver.plan_s"] = _med(plan)
    m["driver.idle_s"] = _med(idle)
    q_stages = stages_in(calls)
    m["driver.jobs_per_query"] = n_jobs / n_queries
    m["driver.stages_per_query"] = len(q_stages) / n_queries

    # indexer.store: scans of the saved index tables, which only the
    # `run.main` calls of the query workload open (ingest's other
    # parquet scans are tombstone files)
    runner_calls = calls if bench.args.workload == "query" else []
    m["store.open_s"] = _med(
        sum((st.complete_ms - st.submit_ms) / 1e3
            for st in by_span.get(s["id"], [])
            if any(_is_store_scan(n) for n in st.nodes.values()))
        for s in runner_calls)
    saves = spans_of("store.save")
    m["store.save_s"] = _med(_wall(s) for s in saves)
    m["store.bytes_written"] = _med(s.get("bytes", 0) for s in saves)

    # indexer.build (set-up repetitions)
    builds = spans_of("build")
    m["build.postings_s"] = _med(_wall(s) for s in builds)
    per = [by_span.get(s["id"], []) for s in builds]
    m["build.python_worker_s"] = _med(
        sum(st.python_run_ms for st in sts) / 1e3 for sts in per)
    m["build.tasks"] = _med(sum(st.tasks for st in sts) for sts in per)
    m["build.task_skew"] = _med(
        max((st.skew() for st in sts if _kernel(st)), default=0)
        for sts in per)
    m["build.spill_bytes"] = _med(sum(st.spill_bytes for st in sts)
                                  for sts in per)
    m["build.gc_s"] = _med(sum(st.gc_ms for st in sts) / 1e3
                           for sts in per)
    m["build.postings"] = _med(s.get("postings", 0) for s in builds)

    # indexer.segments, write side (set-up repetitions)
    segb = spans_of("segments.build")
    m["segments.encode_s"] = _med(_wall(s) for s in segb)
    m["segments.blocks_written"] = _med(s.get("blocks", 0) for s in segb)
    m["segments.bytes_written"] = _med(s.get("bytes", 0) for s in segb)

    # indexer.segments, read side, per measured call
    files, nbytes, rows, kept = _scan_totals(q_stages, _is_segment_scan)
    m["segments.files_read"] = files / n_calls
    m["segments.bytes_read"] = nbytes / n_calls
    m["segments.rows_scanned"] = rows / n_calls
    m["segments.scan_useful_ratio"] = kept / rows if rows else 0.0
    sdm_stages = stages_in(sdm_calls)
    decode = [st for st in sdm_stages if _kernel(st)
              and any(_is_segment_scan(n) for n in st.nodes.values())]
    m["segments.decode_python_s"] = sum(
        st.python_run_ms for st in decode) / 1e3 / n_sdm

    # engine.daat, per bag-of-words call
    daat = [st for st in stages_in(bow_calls) if _kernel(st)]
    kern = [st for st in daat if st.has_op(KERNEL_OPS)]
    m["daat.python_worker_s"] = sum(st.python_run_ms
                                    for st in daat) / 1e3 / n_bow
    m["daat.kernel_tasks"] = sum(st.tasks for st in kern) / n_bow
    m["daat.task_skew"] = max((st.skew() for st in kern), default=0.0)
    m["daat.shuffle_bytes"] = sum(st.shuffle_read_bytes
                                  for st in kern) / n_bow
    m["daat.rows_in"] = sum(st.shuffle_read_records for st in kern) / n_bow
    m["daat.rows_out"] = sum(
        _value(st, n, "number of output rows") for st in kern
        for n in {id(x): x for x in st.nodes.values()}.values()
        if n.name in KERNEL_OPS) / n_bow

    # engine.batch_structured + engine.proximity, per SDM call
    ids = {id(st) for st in decode}
    struct = [st for st in sdm_stages
              if _kernel(st) and id(st) not in ids]
    m["structured.python_worker_s"] = sum(
        st.python_run_ms for st in struct) / 1e3 / n_sdm
    m["structured.shuffle_bytes"] = sum(st.shuffle_read_bytes
                                        for st in struct) / n_sdm
    m["structured.tasks"] = sum(st.tasks for st in struct) / n_sdm
    m["structured.task_skew"] = max((st.skew() for st in struct),
                                    default=0.0)

    # top-k merge, per measured call
    topk = [st for st in q_stages if st.has_op(TOPK_OPS)
            and not _kernel(st)]
    m["topk.executor_s"] = sum(st.executor_run_ms
                               for st in topk) / 1e3 / n_calls
    m["topk.rows_in"] = sum(st.shuffle_read_records
                            for st in topk) / n_calls

    # indexer.merge (ingest: one commit, one compaction)
    m["merge.append_s"] = _med(_wall(s) for s in spans_of("merge.append"))
    m["merge.delete_s"] = _med(_wall(s) for s in spans_of("merge.delete"))
    compacts = [s for s in spans_of("compact") if s.get("ok")]
    delta = sum(s.get("delta_bytes", 0) for s in spans_of("commit"))
    written = [sum(st.output_bytes for st in by_span.get(s["id"], []))
               for s in compacts]
    m["merge.compact_s"] = _med(_wall(s) for s in compacts)
    m["merge.buckets_rebuilt"] = _med(
        s["result"].get("buckets_rebuilt", 0) for s in compacts)
    m["merge.compact_bytes_written"] = _med(written)
    m["merge.write_amplification"] = _med(w / delta for w in written) \
        if delta else 0.0
    m["merge.live_generations"] = _med(s["live_generations"]
                                       for s in compacts)
    m["merge.read_files_per_query"] = files / n_queries if compacts \
        else 0.0

    # Spark runtime, per measured call
    m["spark.tasks"] = sum(st.tasks for st in q_stages) / n_calls
    m["spark.task_wait_s"] = sum(st.task_wait_ms()
                                 for st in q_stages) / 1e3 / n_calls
    m["spark.executor_run_s"] = sum(st.executor_run_ms
                                    for st in q_stages) / 1e3 / n_calls
    m["spark.executor_cpu_s"] = sum(st.executor_cpu_ns
                                    for st in q_stages) / 1e9 / n_calls
    m["spark.gc_s"] = sum(st.gc_ms for st in q_stages) / 1e3 / n_calls
    m["spark.spill_bytes"] = sum(st.spill_bytes
                                 for st in q_stages) / n_calls
    m["spark.failed_tasks"] = sum(st.failed_tasks for st in q_stages)
    m["spark.cached_mb"] = bench.cached_mb

    collapsed = [st for st in daat + struct if _collapsed(st)]
    m["trace.bow_batch_s"] = bench.p50["bow_batch"]
    m["trace.sdm_batch_s"] = bench.p50["sdm_batch"]
    m["trace.bow_batch_scaled_cpu_s"] = bench.p50["bow_batch_scaled"]
    m["trace.sdm_batch_scaled_cpu_s"] = bench.p50["sdm_batch_scaled"]
    m["trace.collapsed_kernel_stages"] = len(collapsed)
    for st in collapsed:
        bench.notes.append(
            f"round-5 signature: kernel stage {st.stage_id} "
            f"({st.callsite}) ran as one task over "
            f"{st.shuffle_blocks} shuffle blocks")

    _write_tables(bench, prof, spans, by_span)
    units = dict(NAMES)
    return {k: {"value": float(m[k]), "unit": units[k]} for k, _ in NAMES}


def _write_tables(bench, prof, spans, by_span) -> None:
    """The stage table (one row per stage, tagged with the workload and
    the span) and the span table with self times, kept next to the
    run directories for inspection; a summary goes to stdout."""
    out_dir = os.path.join(os.path.dirname(bench.work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{bench.args.workload}-{bench.args.seed}"
    names = {}
    for sp in spans:
        for st in by_span.get(sp["id"], []):
            names[(st.stage_id, st.attempt)] = sp["name"]
    with open(os.path.join(out_dir, f"stages-{tag}.jsonl"), "w") as f:
        for st in prof.stages:
            row = {"workload": bench.args.workload,
                   "span": names.get((st.stage_id, st.attempt)),
                   **st.row()}
            f.write(json.dumps(row) + "\n")
    child = {}
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + _wall(sp)
    self_time: dict[str, list[float]] = {}
    for sp in spans:
        self_time.setdefault(sp["name"], []).append(
            _wall(sp) - child.get(sp["id"], 0.0))
    with open(os.path.join(out_dir, f"spans-{tag}.json"), "w") as f:
        json.dump([{k: v for k, v in sp.items() if k != "result"}
                   for sp in spans], f)
    for name, xs in self_time.items():
        bench.notes.append(f"span {name:24s} n={len(xs):3d} "
                           f"self_s total={sum(xs):8.3f} "
                           f"median={statistics.median(xs):7.3f}")
