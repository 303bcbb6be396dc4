#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client that drives graft the way
its users do, checks every output, and prints the metrics of one run.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (inputs come from the seed; see BENCHMARK.json for why each one):
  etl_incremental  set-up generates seeded sources from the program's
                   corpus and bootstraps both warehouses with `graft sync
                   all` and `graft sync all --backend duckdb`; each pass
                   lands a seeded change batch (outside the timed region),
                   then runs the same two commands
  query_mix        a frozen list of named queries from the public registries
                   over the corpus queries.json names (a directory beside
                   the program's default corpus), each pass in a
                   seed-shuffled order, in one resident
                   graft.LocalSession session; each query is materialized once
                   through Spark's noop sink

Every CLI command is its own `graft.cli.Main` JVM, launched with the classpath
and run/javaOptions the build exports, a pinned heap and local[nproc]. Passes
repeat until --seconds have been measured (at least one). Both warehouses are
checked after the bootstrap and after every ETL pass, and every query's rows
after the timed passes, outside any timed region; a mismatch fails the run
with exit code 1.

--trace 1 makes untraced passes and then traced ones, with the harness's
Spark listeners registered through spark.* system properties, and prints the
per-layer metrics of the traced passes. The tracing overhead is the median
traced pass time minus the median untraced pass time of the same run. The
last stdout line is always the JSON result.
"""
import argparse
import json
import os
import queue
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402
import verify  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
# orders rows of the ETL sources, the other tables scaling with it (gen.py):
# all of the corpus's 150k, so the merge rewrites a target of the sf0.1 shape
# (about 18% of a traced pass here, against 13% at 20k orders)
ETL_ORDERS = 150_000
OP_TIMEOUT = 150
REFERENCE = os.path.join(HERE, "queries.json")
LISTENERS = (("spark.extraListeners", "perfbench.TraceListener"),
             ("spark.sql.queryExecutionListeners", "perfbench.TraceQueryListener"),
             ("spark.sql.streaming.streamingQueryListeners", "perfbench.TraceStreamListener"))

E2E = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "op_p50_s": "s"}
LAYERS = {
    "session.build_s": "s",
    "cli.startup_s": "s", "cli.driver_self_s": "s", "cli.cpu_s": "s",
    "cli.sync_s": "s", "cli.sync_duck_s": "s",
    "io.csv_encode_s": "s", "io.parquet_write_s": "s",
    "io.csv_bytes_per_row": "bytes/row", "io.output_bytes": "bytes",
    "sync.watermark_s": "s", "sync.merge_s": "s", "sync.bytes_written_per_delta_byte": "ratio",
    "warehouse.duck_self_s": "s", "warehouse.duck_bytes": "bytes",
    "warehouse.storage_ratio": "ratio",
    "queries.relational_s": "s", "queries.tpch_s": "s", "queries.analytics_s": "s",
    "queries.pipeline_s": "s",
    "streaming.batches": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_rows": "rows",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.scheduler_delay_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_mb": "MB", "spark.input_bytes": "bytes",
    "spark.empty_task_ratio": "ratio",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.classes_loaded": "count",
    "jvm.non_task_cpu_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.child_share": "ratio", "trace.outside_s": "s",
}
# per-pass sums of these op breakdown keys are reported as is
SUMMED = ("io.csv_encode_s", "io.parquet_write_s", "io.output_bytes",
          "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
          "spark.task_run_s", "spark.task_cpu_s", "spark.scheduler_delay_s", "spark.gc_s",
          "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.fetch_wait_s",
          "spark.spill_bytes", "spark.input_bytes", "streaming.batches",
          "streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
          "streaming.state_rows", "jvm.cpu_s", "jvm.gc_s", "jvm.jit_s", "jvm.classes_loaded")


class Run:
    """State of one benchmark run: its work directory inside the checkout,
    the children it started, and every op it timed."""

    def __init__(self, args, info):
        self.args = args
        self.info = info
        self.work = os.path.join(build.OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "trace"))
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC), GRAFT_MASTER=f"local[{NPROC}]",
                        SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"))
        self.ops = []
        self.children = []
        self.problems = []
        self.peak_rss_mb = 0.0

    def phases(self):
        """Tracing off/on for each phase of passes."""
        return [False, True] if self.args.trace else [False]

    def props(self, traced, name):
        if not traced:
            return ()
        return LISTENERS + (("perfbench.trace", os.path.join(self.work, "trace", name)),)

    def spawn(self, main, argv, props, **kw):
        p = subprocess.Popen(build.java_command(self.info, main, argv, self.work, props),
                             env=self.env, cwd=self.work, **kw)
        self.children.append(p)
        return p

    def reap(self, p, timeout):
        """Wait for a child, killing it after `timeout` seconds; return its
        exit code and CPU seconds, and track its peak RSS."""
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
        self.children.remove(p)
        self.peak_rss_mb = max(self.peak_rss_mb, ru.ru_maxrss / 1024.0)
        return p.returncode, ru.ru_utime + ru.ru_stime

    def cli(self, args, kind, pass_no, traced, cfg):
        """One `graft` command in its own JVM, timed from spawn to exit."""
        idx = len(self.ops)
        name = f"op{idx}.jsonl"
        with open(os.path.join(self.work, f"op{idx}.log"), "w") as log:
            start = time.time()
            p = self.spawn("graft.cli.Main", args + ["--config", cfg], self.props(traced, name),
                           stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT)
            code, cpu = self.reap(p, OP_TIMEOUT)
            end = time.time()
        op = {"kind": kind, "pass": pass_no, "traced": traced, "start": start, "end": end,
              "wall": end - start, "cpu": cpu, "ok": code == 0,
              "trace": os.path.join(self.work, "trace", name) if traced else None}
        if code != 0:
            self.problems.append(f"graft {' '.join(args)} exited {code}")
        self.ops.append(op)
        return op

    def close(self):
        for p in self.children:
            p.kill()
            p.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def measure(run, one_pass, start_phase=None, end_phase=None):
    """Run passes, untraced and then (with --trace 1) traced, each phase
    until --seconds of pass time have been measured. `one_pass(pass_no,
    traced)` returns the pass's wall and CPU seconds and its extra per-pass
    data; the wall covers the pass's ops only, not its input changes or
    output checks. The optional hooks run around each phase."""
    passes = []
    for traced in run.phases():
        if start_phase:
            start_phase(traced)
        measured = 0.0
        while not run.problems and (measured == 0.0 or measured < run.args.seconds):
            wall, cpu, extra = one_pass(len(passes), traced)
            passes.append({"no": len(passes), "traced": traced, "wall": wall, "cpu": cpu,
                           **extra})
            measured += wall
        if end_phase:
            end_phase(traced)
    return passes


def e2e(setup_times, passes, op_walls):
    untraced = [p for p in passes if not p["traced"]]
    return {"setup_s": stats.median(setup_times),
            "pass_s": stats.median([p["wall"] for p in untraced]),
            "pass_cpu_s": stats.median([p["cpu"] for p in untraced]),
            "op_p50_s": stats.median(op_walls)}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ───────────────────────────── etl_incremental ─────────────────────────────

def _setup(run):
    """Generate the sources and bootstrap both warehouses with graft, the
    way a user starts; return the sources, the config and the set-up time.
    The bootstrapped warehouses are checked after the clock stops."""
    start = time.perf_counter()
    src = gen.Sources(run.args.seed, ETL_ORDERS, os.path.join(run.work, "src"),
                      gen.read_corpus(run.info["corpus"]))
    cfg = os.path.join(run.work, "graft.yaml")
    with open(cfg, "w") as fh:
        fh.write(gen.config_yaml(src.root, os.path.join(run.work, "wh"),
                                 os.path.join(run.work, "data")))
    for args, kind in ((["sync", "all"], "bootstrap"),
                       (["sync", "all", "--backend", "duckdb"], "bootstrap_duck")):
        if not run.problems:
            run.cli(args, kind, -1, False, cfg)
    setup = time.perf_counter() - start
    if not run.problems:
        run.problems += verify.check_warehouses(os.path.join(run.work, "wh"), src.tables)
    return src, cfg, setup


def _warehouse_layers(src, wh):
    duck = os.path.getsize(os.path.join(wh, "duck.db"))
    live = sum(dir_bytes(os.path.join(wh, f"{t}.parquet")) for t in gen.TABLES)
    return {"warehouse.duck_bytes": duck,
            "warehouse.storage_ratio": (live + duck) / src.source_bytes()}


def _span(ops):
    return ops[-1]["end"] - ops[0]["start"]


def etl_incremental(run):
    src, cfg, setup = _setup(run)
    wh = os.path.join(run.work, "wh")

    def one_pass(no, traced):
        delta = src.land_changes()
        ops = [run.cli(["sync", "all"], "sync", no, traced, cfg),
               run.cli(["sync", "all", "--backend", "duckdb"], "sync_duck", no, traced, cfg)]
        if not run.problems:
            run.problems += verify.check_warehouses(wh, src.tables)
        return _span(ops), sum(op["cpu"] for op in ops), {"delta_bytes": delta}

    passes = measure(run, one_pass)
    return [setup], passes, {} if run.problems else _warehouse_layers(src, wh)


def cli_layers(run, passes, extra):
    traced = [op for op in run.ops if op["traced"]]
    for op in traced:
        op["layers"] = trace.breakdown(op, trace.load(op["trace"]), spawn=op["start"])
    per_pass = []
    for p in (p for p in passes if p["traced"]):
        ops = [op for op in traced if op["pass"] == p["no"]]
        row = {k: sum(op["layers"].get(k, 0) for op in ops) for k in SUMMED}
        row["spark.peak_exec_mem_mb"] = max(op["layers"]["spark.peak_exec_mem_mb"] for op in ops)
        row["spark.empty_tasks"] = sum(op["layers"]["spark.empty_tasks"] for op in ops)
        row["cli.driver_self_s"] = sum(op["layers"]["driver_self"] for op in ops)
        row["cli.cpu_s"] = sum(op["cpu"] for op in ops)
        sync = [op for op in ops if op["kind"] == "sync"]
        row["sync.watermark_s"] = sum(op["layers"]["read_exec_s"] for op in sync)
        row["sync.merge_s"] = sum(op["layers"]["parquet_write_exec_s"] for op in sync)
        row["sync.bytes_written_per_delta_byte"] = (
            sum(op["layers"]["parquet_bytes"] for op in sync) / p["delta_bytes"])
        row["warehouse.duck_self_s"] = sum(op["layers"]["driver_self"] for op in ops
                                           if op["kind"].endswith("_duck"))
        per_pass.append(row)
    out = {k: stats.median([r[k] for r in per_pass]) for k in per_pass[0]}
    out["cli.startup_s"] = stats.median([op["layers"]["startup"] for op in traced])
    for kind in ("sync", "sync_duck"):
        out[f"cli.{kind}_s"] = stats.median([op["wall"] for op in traced if op["kind"] == kind])
    csv_rows = sum(op["layers"]["io.csv_rows"] for op in traced)
    out["io.csv_bytes_per_row"] = (
        sum(op["layers"]["io.csv_bytes"] for op in traced) / csv_rows if csv_rows else 0.0)
    out.update(_shared_layers(run, traced, passes, per_pass))
    out.update(extra)
    return out


def _shared_layers(run, traced_ops, passes, per_pass):
    tasks = sum(r["spark.tasks"] for r in per_pass)
    walls = sum(op["layers"]["wall"] for op in traced_ops)
    return {
        "jvm.peak_rss_mb": run.peak_rss_mb,
        "spark.empty_task_ratio": sum(r["spark.empty_tasks"] for r in per_pass) / tasks
        if tasks else 0.0,
        "jvm.non_task_cpu_s": stats.median(
            [r["jvm.cpu_s"] - r["spark.task_cpu_s"] for r in per_pass]),
        "trace.overhead_s": stats.median([p["wall"] for p in passes if p["traced"]])
        - stats.median([p["wall"] for p in passes if not p["traced"]]),
        "trace.child_share": sum(op["layers"]["child_cover"] for op in traced_ops) / walls,
        "trace.outside_s": sum(op["layers"]["outside"] for op in traced_ops),
    }


# ───────────────────────────── query_mix ─────────────────────────────

class Session:
    """The resident query JVM (perfbench.QueryMix) and its line protocol."""

    def __init__(self, run, corpus, traced, label):
        self.run = run
        self.trace_file = os.path.join(run.work, "trace", f"{label}.jsonl")
        self.log = open(os.path.join(run.work, f"{label}.log"), "w")
        self.start = time.time()
        # `corpus` names a directory beside the program's default corpus
        sf_dir = os.path.join(os.path.dirname(run.info["corpus"]), corpus)
        self.proc = run.spawn("perfbench.QueryMix", [sf_dir], run.props(traced, f"{label}.jsonl"),
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
                              text=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        self.jvm = json.loads(self._reply(OP_TIMEOUT).split(" ", 1)[1])
        self.ready = time.time()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self.lines.put(line[2:].strip())
        self.lines.put(None)

    def _reply(self, timeout):
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            line = None
        if line is None or line == "bye":
            raise RuntimeError("query session stopped answering")
        return line

    def call(self, command):
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        word, _, rest = self._reply(OP_TIMEOUT).partition(" ")
        return word == "ok", rest

    def close(self):
        self.proc.stdin.write("quit\n")
        self.proc.stdin.flush()
        self.proc.stdin.close()
        code, _ = self.run.reap(self.proc, 60)
        self.log.close()
        if code != 0:
            self.run.problems.append(f"query session exited {code}")


def _query_pass(run, session, names, pass_no, traced):
    """One pass over `names`; returns its wall seconds, its CPU seconds
    (process CPU of the resident JVM) and the JVM counter deltas."""
    before = session.jvm
    first = len(run.ops)
    for name in names:
        start = time.time()
        ok, rest = session.call(f"run {name}")
        end = time.time()
        run.ops.append({"kind": name, "pass": pass_no, "traced": traced, "start": start,
                        "end": end, "wall": end - start, "ok": ok})
        if ok:
            session.jvm = json.loads(rest)
        else:
            run.problems.append(f"query {name} failed: {rest}")
    after = session.jvm
    jvm = {"jvm.cpu_s": (after["cpu_ns"] - before["cpu_ns"]) / 1e9,
           "jvm.gc_s": (after["gc_ms"] - before["gc_ms"]) / 1e3,
           "jvm.jit_s": (after["jit_ms"] - before["jit_ms"]) / 1e3,
           "jvm.classes_loaded": after["classes"] - before["classes"]}
    return _span(run.ops[first:]), jvm["jvm.cpu_s"], {"jvm": jvm}


def query_mix(run):
    with open(REFERENCE) as fh:
        ref = json.load(fh)
    corpus, reference = ref["corpus"], ref["queries"]
    names = sorted(reference)
    rng = random.Random(run.args.seed)

    def order():
        shuffled = names[:]
        rng.shuffle(shuffled)
        return shuffled

    setup_times, extra, sessions = [], {}, []

    def start_phase(traced):
        s = Session(run, corpus, traced, "traced" if traced else "session")
        sessions.append(s)
        _query_pass(run, s, order(), -1, traced)  # cold first pass: set-up
        setup_times.append(time.time() - s.start)

    def end_phase(traced):
        s = sessions[-1]
        if traced == bool(run.args.trace):
            _check_queries(run, s, names, reference, traced)
        if traced:
            extra["session.build_s"] = s.ready - s.start
            extra["registry"] = {n: s.call(f"registry {n}")[1] for n in names}
        s.close()

    passes = measure(run, lambda no, traced: _query_pass(run, sessions[-1], order(), no, traced),
                     start_phase, end_phase)
    return setup_times, passes, extra, sessions


def _check_queries(run, session, names, reference, traced):
    out = os.path.join(run.work, "out")
    for name in names:
        if run.problems:
            return
        start = time.time()
        ok, rest = session.call(f"save {name} {os.path.join(out, name)}")
        run.ops.append({"kind": f"save:{name}", "pass": -2, "traced": traced, "start": start,
                        "end": time.time(), "wall": time.time() - start, "ok": ok})
        if not ok:
            run.problems.append(f"query {name} failed to save: {rest}")
            continue
        rows, digest = verify.query_digest(os.path.join(out, name))
        want = reference[name]
        if (rows, digest) != (want["rows"], want["digest"]):
            run.problems.append(f"query {name}: got {rows} rows {digest[:12]}, "
                                f"want {want['rows']} rows {want['digest'][:12]}")
        shutil.rmtree(os.path.join(out, name), ignore_errors=True)


def query_layers(run, passes, extra, session):
    ops = [op for op in run.ops if op["traced"]]
    owned = trace.assign(ops, trace.load(session.trace_file))
    for op, recs in zip(ops, owned):
        op["layers"] = trace.breakdown(op, recs)
    measured = [op for op in ops if op["pass"] >= 0]
    per_pass = []
    for p in (p for p in passes if p["traced"]):
        pops = [op for op in measured if op["pass"] == p["no"]]
        row = {k: sum(op["layers"].get(k, 0) for op in pops) for k in SUMMED}
        row.update(p["jvm"])
        row["spark.peak_exec_mem_mb"] = max(op["layers"]["spark.peak_exec_mem_mb"] for op in pops)
        row["spark.empty_tasks"] = sum(op["layers"]["spark.empty_tasks"] for op in pops)
        for reg in ("relational", "tpch", "analytics", "pipeline"):
            row[f"queries.{reg}_s"] = sum(op["wall"] for op in pops
                                          if extra["registry"][op["kind"]] == reg)
        per_pass.append(row)
    out = {k: stats.median([r[k] for r in per_pass]) for k in per_pass[0]}
    out["session.build_s"] = extra["session.build_s"]
    out.update(_shared_layers(run, measured, passes, per_pass))
    return out


# ───────────────────────────── command line ─────────────────────────────

RUNS = os.path.join(build.OUT, "runs")


def cpu_times():
    """Aggregate jiffies of the machine: (total, steal)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def env_stanza(info, load_before, cpu_before):
    total, steal = (a - b for a, b in zip(cpu_times(), cpu_before))
    fs = "unknown"
    best = ""
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if build.OUT.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fs = parts[1], parts[2]
    # steal: share of the machine's CPU time the hypervisor gave to others
    return {"nproc": NPROC, "load_before": load_before, "load_after": os.getloadavg(),
            "steal": steal / total if total else 0.0, "heap": build.HEAP, "jdk": info["jdk"],
            "work_fs": fs}


def result_line(correct, attempted, failed, values, units):
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_incremental", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its children (Run.close)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before, cpu_before = os.getloadavg(), cpu_times()
    try:
        info = build.ensure()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run = Run(args, info)
    try:
        if args.workload == "query_mix":
            setup_times, passes, extra, sessions = query_mix(run)
            ops = [op for op in run.ops if op["pass"] >= 0 and not op["traced"]]
            layers = (query_layers(run, passes, extra, sessions[-1])
                      if args.trace and not run.problems else {})
        else:
            setup_times, passes, wh = etl_incremental(run)
            ops = [op for op in run.ops if op["pass"] >= 0 and not op["traced"]]
            layers = cli_layers(run, passes, wh) if args.trace and not run.problems else {}
        values = e2e(setup_times, passes, [op["wall"] for op in ops])
    finally:
        run.close()

    env = env_stanza(info, load_before, cpu_before)
    correct = not run.problems
    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if not op["ok"])
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "stamp": info["stamp"], "env": env,
              "e2e": values, "layers": layers, "problems": run.problems,
              "passes": [{k: v for k, v in p.items() if k != "jvm"} for p in passes],
              "ops": [{k: v for k, v in op.items() if k != "trace"} for op in run.ops]}
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-"
                                 f"{int(time.time())}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for p in run.problems:
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    print("perfbench env " + json.dumps(env))
    print(result_line(correct, attempted, failed, layers if args.trace else values,
                      LAYERS if args.trace else E2E))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
