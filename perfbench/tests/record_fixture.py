"""Re-record `data/small_eventlog.jsonl`, the event log the profiler
tests read.

    python3 perfbench/tests/record_fixture.py    # from a checkout root

Builds a 300-file corpus on local[4] with the event log on, then runs
four tagged job groups: a bag-of-words DAAT batch (`span:0`), an SDM
query off the segments (`span:1`), a tombstone commit (`span:2`) and
the DAAT batch again over the tombstones (`span:3`). Only the query
jobs' events are kept, without the fields the profiler does not read.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(HERE, "data", "small_eventlog.jsonl")
KEEP_PROPS = ("spark.job.description", "spark.sql.execution.id")
KEEP_SPANS = ("span:0", "span:1", "span:3")
# the node metrics the profiler and the layer table read
KEEP_METRICS = ("number of output rows", "number of files read",
                "size of files read", "time to run Python workers",
                "data sent to Python workers",
                "data returned from Python workers")
TASK_BLOCKS = {
    "Shuffle Read Metrics": ("Local Bytes Read", "Remote Bytes Read",
                             "Total Records Read", "Local Blocks Fetched",
                             "Remote Blocks Fetched"),
    "Shuffle Write Metrics": ("Shuffle Bytes Written",),
    "Input Metrics": ("Bytes Read", "Records Read"),
    "Output Metrics": ("Bytes Written",)}
STAGE_KEYS = ("Stage ID", "Stage Attempt ID", "Stage Name",
              "Number of Tasks", "Submission Time",
              "Completion Time", "Failure Reason")


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            # scans keep their column list (segment vs store tables)
            "simpleString": node.get("simpleString", "")[
                :300 if node["nodeName"].startswith("Scan") else 40],
            "metrics": [m for m in node.get("metrics", [])
                        if m["name"] in KEEP_METRICS],
            "children": [_plan(c) for c in node.get("children", [])]}


def _task_info(ti: dict) -> dict:
    out = {k: ti[k] for k in ("Launch Time", "Finish Time", "Failed",
                              "Killed")}
    out["Accumulables"] = [{k: a[k] for k in ("ID", "Name", "Update")}
                           for a in ti["Accumulables"]
                           if a["Name"] in KEEP_METRICS]
    return out


def _task_metrics(tm: dict) -> dict:
    out = {k: tm.get(k, 0) for k in ("Executor Run Time",
                                     "Executor CPU Time", "JVM GC Time",
                                     "Disk Bytes Spilled")}
    for block, keys in TASK_BLOCKS.items():
        out[block] = {k: (tm.get(block) or {}).get(k, 0) for k in keys}
    return out


def _stage_info(info: dict) -> dict:
    out = {k: info[k] for k in STAGE_KEYS if k in info}
    out["RDD Info"] = [{"Scope": r["Scope"]} for r in info["RDD Info"]
                       if r.get("Scope")]
    return out


def record(work: str) -> str:
    sys.path[:0] = [ROOT, BENCH]
    import numpy as np

    import gen
    from run import start_spark, stop_spark
    from search_engines_spark.engine.compile import Engine
    from search_engines_spark.indexer.build import (build_index_frames,
                                                    docs_from_code_corpus)
    from search_engines_spark.indexer.merge import delete_docs
    from search_engines_spark.indexer.segments import build_segments
    spark = start_spark(work, trace=True)
    corpus = gen.Corpus(5, 300)
    gen.write_parquet(gen.sort_rows(corpus.rows), f"{work}/corpus.parquet")
    triples = gen.query_triples(corpus, np.random.default_rng(1), 4)
    sc = spark.sparkContext
    idx = build_index_frames(docs_from_code_corpus(
        spark.read.parquet(f"{work}/corpus.parquet")), builder="arrow")
    build_segments(idx.postings, idx.doclens, f"{work}/seg", num_buckets=4)
    eng = Engine(idx, "bm25")
    eng.attach_segments(f"{work}/seg", 4)
    bow = {f"b{i}": gen.bow_query(t) for i, t in enumerate(triples)}
    sc.setJobDescription("span:0")
    eng.search_daat_many(bow, k=10).collect()
    sc.setJobDescription("span:1")
    eng.search_segments_many({"s0": gen.sdm_query(triples[0])},
                             k=10).collect()
    sc.setJobDescription("span:2")
    delete_docs(spark, f"{work}/seg", [1, 2, 3])
    sc.setJobDescription("span:3")
    eng.search_daat_many(bow, k=10).collect()
    sc.setJobDescription(None)
    stop_spark(spark)
    (log,) = os.listdir(os.path.join(work, "eventlog"))
    return os.path.join(work, "eventlog", log)


def trim(src: str, dst: str) -> None:
    events = [json.loads(line) for line in open(src) if line.strip()]
    jobs, stages, execs = set(), set(), set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.job.description") in KEEP_SPANS:
                jobs.add(e["Job ID"])
                stages |= {s["Stage ID"] for s in e["Stage Infos"]}
                if "spark.sql.execution.id" in props:
                    execs.add(int(props["spark.sql.execution.id"]))
    out = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if e["Job ID"] not in jobs:
                continue
            e["Properties"] = {k: v for k, v in e["Properties"].items()
                               if k in KEEP_PROPS}
            e["Stage Infos"] = [_stage_info(s) for s in e["Stage Infos"]]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] not in jobs:
                continue
        elif kind.startswith("SparkListenerStage") or \
                kind == "SparkListenerTaskEnd":
            sid = e.get("Stage ID", e.get("Stage Info", {}).get("Stage ID"))
            if sid not in stages:
                continue
            if "Stage Info" in e:
                e["Stage Info"] = _stage_info(e["Stage Info"])
            e.pop("Properties", None)
            e.pop("Task Executor Metrics", None)
            if kind == "SparkListenerTaskEnd":
                e["Task Info"] = _task_info(e["Task Info"])
                e["Task Metrics"] = _task_metrics(e.get("Task Metrics") or {})
        elif ".sql.execution.ui." in kind:
            if e.get("executionId") not in execs:
                continue
            for k in ("physicalPlanDescription", "details"):
                e.pop(k, None)
            if "sparkPlanInfo" in e:
                e["sparkPlanInfo"] = _plan(e["sparkPlanInfo"])
        else:
            continue
        out.append(e)
    with open(dst, "w") as f:
        for e in out:   # checkout-relative paths in call sites and plans
            f.write(json.dumps(e, separators=(",", ":"))
                    .replace(ROOT, "/checkout") + "\n")


if __name__ == "__main__":
    tmp = os.path.join(ROOT, ".perfbench_work", f"fixture-{os.getpid()}")
    try:
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        trim(record(tmp), OUT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(OUT, os.path.getsize(OUT))
