#!/usr/bin/env python3
"""Address-layer benchmark: cold rebuild vs. resumed re-run plus map windows.

Run from the root of a checkout:

    python3 addrbench/run.py --workload rebuild_cold --seed 1 --seconds 3 --trace 0

Workloads (closed loop, one client, Spark local[<usable cores>]):

  rebuild_cold  generated documents go into a fresh store: run_all and
                write_layers for all 11 layers, then map-window reads over
                the committed snapshot.
  resume_serve  set-up builds the same input into a fresh store in a process
                of its own; the timed re-run, in a fresh process like a
                recovery run, reuses both checkpoints and commits the 11
                layers again as snapshot v2, then map-window reads over it.

``--seconds`` is the length of the closed-loop map-window phase that follows
the pipeline pass; its reads feed the pyarrow output check and the traced
``io.window.*`` figures.

Each run starts ``worker.py`` in fresh processes (set-up, on resume_serve;
the untraced reference for ``trace.overhead_s``, when traced; the measured
run), samples the peak memory (summed PSS) of each one's process tree from
/proc, stops every process it left, and deletes its scratch directory under
``.addrbench_work/``. The last line of standard output is the result:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it holds the run's details (input size, seed, host probe,
raw figures).

Why some figures are per-layer only: every workload must report every
end-to-end metric within a run of about a minute, and window latency keeps
falling for the first ~80 reads of a fresh JVM (JIT warm-up, ~15 s), so a
window percentile from a few seconds of reads moves by a quarter between
runs. Peak memory is dominated by how far the Spark JVM's heap grows, which
varies by a fifth between identical runs, so it is reported per-layer and in
every run's detail line. ``session.warm_driver_plans`` is not called: it
costs ~22 s per run, and the default spark-submit path (``submit_job.py``
without ``--warm``) does not call it either.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("rebuild_cold", "resume_serve")
RUN_LIMIT_S = 170  # a run that is not done by then is stopped and fails
SAMPLE_S = 0.2
PR_SET_CHILD_SUBREAPER = 36


def host_probe(workdir: str) -> dict:
    """Short host calibration, recorded next to the results and never used
    to scale a metric: single-core hashing and a synced disk write."""
    buf = os.urandom(8 << 20)
    t0 = time.perf_counter()
    for _ in range(8):
        hashlib.sha256(buf).digest()
    cpu = time.perf_counter() - t0
    path = os.path.join(workdir, "probe.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(8):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    disk = time.perf_counter() - t0
    os.remove(path)
    return {"sha256_mb_per_s": 64 / cpu, "disk_write_mb_per_s": 64 / disk}


def cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def descendants() -> list[int]:
    """Every live process below this one (orphans re-parent to us)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_by_command(pids: list[int]) -> dict[str, int]:
    """Proportional set size of ``pids`` in bytes, summed per command name.
    PSS splits shared pages among their sharers, so a page shared by two
    processes of the tree (a JVM child between fork and exec, libraries
    mapped by every Python worker) counts once in the sum."""
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0) + pss * 1024
    return out


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all() -> None:
    """Terminate every remaining descendant and wait until all have ended."""
    deadline = time.monotonic() + 15
    sig = signal.SIGTERM
    while True:
        reap()
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_worker(args, workdir: str, role: str, trace: int, seconds: float,
               deadline: float) -> tuple[dict, float]:
    """One worker process; returns its result and the peak RSS (MB) of its
    process tree. On rebuild_cold each role builds a fresh store. On
    resume_serve every role uses the one store that role "setup" builds: a
    recovery run resumes from the store where it was committed (the
    ``ways_geo`` checkpoint's lineage names the ``entities`` path), so a
    traced run's reference re-run commits v2 and the traced one v3."""
    out = os.path.join(workdir, f"result-{role}.json")
    shared = args.workload == "resume_serve"
    store = os.path.join(workdir, "store" if shared else f"store-{role}")
    env = dict(os.environ)
    root = os.getcwd()
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", os.path.join(workdir, f"work-{role}"),
        "--fixture", os.path.join(workdir, "fixture"), "--store", store, "--out", out,
    ]
    if role == "setup":
        cmd.append("--setup")
    # the worker's own output goes to stderr: stdout carries only results
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr)
    peak, peak_split = 0, {}
    while proc.poll() is None:
        split = pss_by_command(descendants())
        if sum(split.values()) > peak:
            peak, peak_split = sum(split.values()), split
        if time.monotonic() > deadline:
            proc.kill()
            proc.wait()
            stop_all()
            raise SystemExit(f"{args.workload}: run exceeded {RUN_LIMIT_S} s")
        time.sleep(SAMPLE_S)
    stop_all()
    if proc.returncode != 0:
        raise SystemExit(f"{args.workload}: worker exited with {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_split_mb"] = {k: v / 2**20 for k, v in peak_split.items()}
    return res, peak / 2**20


def window_stats(reads: list[dict]) -> dict:
    ms = [r["ms"] for r in reads]
    pts = [r["ms"] for r in reads if r["kind"] == "point"]
    lines = [r["ms"] for r in reads if r["kind"] == "line"]
    return {
        "n": len(ms),
        "p50_ms": statistics.median(ms),
        "max_ms": max(ms),
        "point_p50_ms": statistics.median(pts) if pts else 0.0,
        "line_p50_ms": statistics.median(lines) if lines else 0.0,
        "rows": sum(r["rows"] for r in reads),
    }


def end_to_end(res: dict, setup_s: float) -> dict:
    pipeline_s = res["build"]["pipeline_s"]
    return {
        "setup_s": (setup_s, "s"),
        "pipeline_s": (pipeline_s, "s"),
        "addr_validated_per_s": (res["nwa_rows"] / pipeline_s, "1/s"),
        "store_bytes_per_addr": (res["store_bytes"] / res["nwa_rows"], "B"),
    }


def per_layer(res: dict, untraced_pipeline_s: float, peak_rss_mb: float) -> dict:
    from eventlog import FIELDS

    b, tr, w = res["build"], res["trace"], window_stats(res["reads"])
    ck = b["checkpoints"]
    m = {
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "session.get_spark_s": (res["setup"]["get_spark_s"], "s"),
        "session.warm_python_workers_s": (res["setup"]["warm_python_workers_s"], "s"),
        "io.table.checkpoints_reused": (sum(c["reused"] for c in ck.values()), "count"),
        # self time: the two checkpoint calls are reported on their own
        "plans.pipeline.run_all_s": (b["run_all_s"] - sum(c["s"] for c in ck.values()), "s"),
        "plans.pipeline.write_layers_s": (b["write_layers_s"], "s"),
    }
    for name, prefix in (("entities", "sources.entities"),
                         ("ways_geo", "operators.assembly.ways_geo")):
        m[f"{prefix}_checkpoint_s"] = (ck[name]["s"], "s")
        for k, unit in (("rows", "count"), ("bytes", "B"), ("files", "count")):
            m[f"{prefix}_{k}"] = (res["checkpoints"][name][k], unit)
    for label, s in b["materialize"].items():
        m[f"{label}.materialize_s"] = (s, "s")
    for name in res["big_layers"]:
        m[f"io.table.layer_{name}_s"] = (b["tables"][f"layer_{name}"], "s")
        m[f"io.table.layer_{name}_bytes"] = (res["layers"][name]["bytes"], "B")
        m[f"io.table.layer_{name}_files"] = (res["layers"][name]["files"], "count")
    win = tr["labels"]["io.window"]
    n_reads = w["n"] + res["warmup_reads"]
    m["io.window.p50_ms"] = (w["p50_ms"], "ms")
    m["io.window.point_p50_ms"] = (w["point_p50_ms"], "ms")
    m["io.window.line_p50_ms"] = (w["line_p50_ms"], "ms")
    m["io.window.rows_read_per_row_returned"] = (
        win["input_records"] / max(1, w["rows"] + res["warmup_rows"]), "ratio")
    m["io.window.bytes_read_per_read"] = (win["input_bytes"] / n_reads, "B")
    for label, row in tr["labels"].items():
        for k, unit in FIELDS.items():
            m[f"{label}.{k}"] = (row[k], unit)
    m["trace.unlabelled_stage_share"] = (tr["unlabelled_stage_share"], "ratio")
    m["trace.pipeline_s"] = (b["pipeline_s"], "s")
    m["trace.overhead_s"] = (b["pipeline_s"] - untraced_pipeline_s, "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("osmi_addresses_spark"):
        print("run from the root of a checkout holding osmi_addresses_spark/",
              file=sys.stderr)
        return 2

    deadline = time.monotonic() + RUN_LIMIT_S
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    workdir = os.path.abspath(os.path.join(".addrbench_work", f"{args.workload}-{os.getpid()}"))
    os.makedirs(workdir)
    try:
        host = host_probe(workdir)
        ticks = cpu_ticks()
        setup = {"setup_s": 0.0}
        if args.workload == "resume_serve":
            setup = run_worker(args, workdir, "setup", 0, 0, deadline)[0]
        reference_s = None
        if args.trace:
            # untraced reference for trace.overhead_s (its reads are unused)
            reference_s = run_worker(args, workdir, "reference", 0, 0,
                                     deadline)[0]["build"]["pipeline_s"]
        res, peak = run_worker(args, workdir, "measured", args.trace, args.seconds, deadline)
        delta = [b - a for a, b in zip(ticks, cpu_ticks())]
        # share of CPU time the hypervisor gave to other guests during the run
        host["steal_share"] = delta[7] / max(1, sum(delta))
    finally:
        stop_all()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(".addrbench_work")
        except OSError:
            pass

    failed = len(res["failures"])
    if args.trace:
        metrics = per_layer(res, reference_s, peak)
    else:
        metrics = end_to_end(res, setup["setup_s"] + res["setup_s"])
    w = window_stats(res["reads"])
    detail = {k: res[k] for k in ("workload", "seed", "sf", "towns", "n_docs", "cores",
                                  "gen_s", "setup", "nwa_rows", "failures")}
    detail.update(setup_process=setup.get("setup"), host=host,
                  windows={k: w[k] for k in ("n", "p50_ms", "max_ms", "rows")},
                  ops_failed_share=failed / res["attempted"], peak_rss_mb=peak,
                  peak_rss_split_mb=res["peak_rss_split_mb"])
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
