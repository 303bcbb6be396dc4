"""Per-layer numbers from the spans the harness listeners record.

Span tree of one op (a CLI command, or one query of the resident session):

  op                     wall time as the client sees it
    startup              CLI only: process spawn to SparkContext start
    SQL execution        one Spark action; classified by the file format its
                         physical plan writes
      job -> stage       with task metrics summed per stage

A CLI op owns every record of its own trace file. In the resident session
a record belongs to the op that was running when it started.
"""
import bisect
import json
import re

from stats import coverage, self_time

_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand [^,]*, \w+, (\w+),")
STAGE_FIELDS = ("tasks", "empty_tasks", "run_ms", "cpu_ns", "deser_ms", "sched_delay_ms",
                "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
                "spill_bytes", "input_bytes", "output_bytes", "output_records")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def written_format(nodes):
    """The file format an execution writes, or None."""
    m = _WRITE.search(nodes)
    return m.group(1).lower() if m else None


def io_class(nodes):
    """The io sub-layer an execution is charged to: CSV chunk encode or
    parquet write."""
    return {"csv": "csv_encode", "parquet": "parquet_write"}.get(written_format(nodes))


def assign(ops, records):
    """Split the records of one resident application among `ops` (dicts
    with epoch-second `start`), by the time each record starts."""
    starts = [op["start"] for op in ops]
    owned = [[] for _ in ops]
    for r in records:
        t = r.get("start", r.get("t"))
        if t is None:
            continue
        i = bisect.bisect_right(starts, t / 1000.0 + 0.002) - 1
        if i >= 0:
            owned[i].append(r)
    return owned


def breakdown(op, records, spawn=None):
    """Layer numbers of one op from its records. `spawn` is the epoch
    second its process was started (CLI ops)."""
    start, end = op["start"], op["end"]
    by_kind = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r)
    execs = [r for r in by_kind.get("exec", []) if r["id"] == r["root"]]
    jobs = by_kind.get("job", [])
    stages = {}
    for s in by_kind.get("stage", []):
        stages.setdefault(s["id"], []).append(s)
    exec_span = [(x["start"] / 1e3, x["end"] / 1e3) for x in execs]
    job_span = [(j["start"] / 1e3, j["end"] / 1e3) for j in jobs]
    children = exec_span + job_span
    out = {"wall": end - start}
    startup = 0.0
    if spawn is not None and by_kind.get("app_start"):
        app = by_kind["app_start"][0]["t"] / 1e3
        startup = max(0.0, app - spawn)
        children.append((spawn, app))
    out["startup"] = startup
    out["self"] = self_time(start, end, children)
    out["child_cover"] = out["wall"] - out["self"]
    out["outside"] = sum(e - s for s, e in children) - sum(
        min(e, end) - max(s, start) for s, e in children if min(e, end) > max(s, start))
    out["job_cover"] = coverage(job_span, start, end)
    out["driver_self"] = out["wall"] - startup - out["job_cover"]

    io = {"csv_encode": 0.0, "parquet_write": 0.0}
    csv_bytes = csv_rows = 0
    parquet_bytes = watermark = written_s = 0.0
    exec_stages = {}
    for j in jobs:
        exec_stages.setdefault(j["exec"], []).extend(j["stages"])
    for x in execs:
        dur = (x["end"] - x["start"]) / 1e3
        cls = io_class(x["nodes"])
        sums = [s["sums"] for sid in exec_stages.get(x["id"], []) for s in stages.get(sid, [])]
        out_bytes = sum(s["output_bytes"] for s in sums)
        if cls:
            io[cls] += dur
        if cls == "csv_encode":
            csv_bytes += out_bytes
            csv_rows += sum(s["output_records"] for s in sums)
        written = written_format(x["nodes"])
        if written == "parquet":
            parquet_bytes += out_bytes
            written_s += dur
        elif written is None:
            watermark += dur
    for k, v in io.items():
        out[f"io.{k}_s"] = v
    out["io.csv_bytes"] = csv_bytes
    out["io.csv_rows"] = csv_rows
    # execution time that reads (watermarks, counts) or rewrites (merges)
    out["read_exec_s"] = watermark
    out["parquet_write_exec_s"] = written_s
    out["parquet_bytes"] = parquet_bytes

    all_sums = [s["sums"] for group in stages.values() for s in group]
    tot = {f: sum(s[f] for s in all_sums) for f in STAGE_FIELDS}
    out["io.output_bytes"] = tot["output_bytes"]
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(all_sums)
    out["spark.tasks"] = tot["tasks"]
    out["spark.empty_tasks"] = tot["empty_tasks"]
    out["spark.job_s"] = out["job_cover"]
    out["spark.task_run_s"] = tot["run_ms"] / 1e3
    out["spark.task_cpu_s"] = tot["cpu_ns"] / 1e9
    out["spark.scheduler_delay_s"] = tot["sched_delay_ms"] / 1e3
    out["spark.gc_s"] = tot["gc_ms"] / 1e3
    out["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    out["spark.shuffle_read_bytes"] = tot["shuffle_read_bytes"]
    out["spark.fetch_wait_s"] = tot["fetch_wait_ms"] / 1e3
    out["spark.spill_bytes"] = tot["spill_bytes"]
    out["spark.input_bytes"] = tot["input_bytes"]
    out["spark.peak_exec_mem_mb"] = max(
        [s["peak_exec_mem"] for s in all_sums], default=0) / 2**20
    out["spark.plan_s"] = sum(
        q["phases_ms"].get(p, 0) for q in by_kind.get("qe", [])
        for p in ("analysis", "optimization", "planning")) / 1e3

    batches = by_kind.get("batch", [])
    last_state = {}
    for b in batches:
        last_state[b["query"]] = b["state_rows"]
    out["streaming.batches"] = len(batches)
    for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                      ("walCommit", "wal_commit_s")):
        out[f"streaming.{name}"] = sum(b["durations_ms"].get(key, 0) for b in batches) / 1e3
    out["streaming.state_rows"] = sum(last_state.values())

    if by_kind.get("app_end"):
        jvm = by_kind["app_end"][0]["jvm"]
        out["jvm.cpu_s"] = jvm["cpu_ns"] / 1e9
        out["jvm.gc_s"] = jvm["gc_ms"] / 1e3
        out["jvm.jit_s"] = jvm["jit_ms"] / 1e3
        out["jvm.classes_loaded"] = jvm["classes"]
    return out
