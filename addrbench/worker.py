"""One benchmark process: set-up, the timed region, output checks.

Started by ``addrbench/run.py``, which owns the scratch directory and samples
this process tree's memory. With ``--setup`` the process only builds the
committed store that a ``resume_serve`` re-run then starts from, in a
process of its own. Every layer is timed from outside, around calls
into the package's public functions:

    session             get_spark, warm_python_workers
    sources + io.table  the `entities` checkpoint (TableStore.write_once)
    operators.assembly  the `ways_geo` checkpoint (TableStore.write_once)
    plans.pipeline      run_all, write_layers
    operators.*         incremental count() per operator family (traced only)
    io.window           read_layer_bbox

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import time

# Input size: sf0.05 = 50 towns = 66,150 validated addresses. A run (JVM
# start, a cold build, on resume_serve also the re-run) has to stay near a
# minute; below sf0.1 a cold build costs about the same at any size (4 cores).
SF = 0.05
ADDRS_PER_TOWN = 1323  # nodes_with_addresses rows per generated town, any seed
WARMUP_WINDOWS = 3
CHECKED_WINDOWS = 8  # timed reads re-read with pyarrow, at most

POINT_LAYERS = ("nodes_with_addresses", "nearest_points")
LINE_LAYERS = ("connection_line", "nearest_roads")
# The three largest layers at this input, by committed bytes.
BIG_LAYERS = ("connection_line", "nodes_with_addresses", "nearest_points")

# Incremental materialization per operator family, in this fixed order: each
# count() reuses the persisted intermediates the earlier ones filled.
OPERATOR_COUNTS = (
    ("operators.interpolation", ("interpolation",)),
    ("operators.nearest_street", ("nearest_points",)),
    ("operators.nearest_place", ("connection_line",)),
    ("operators.layers", (
        "nodes_with_addresses", "nearest_roads", "nearest_areas",
        "ways_with_addresses", "ways_with_postal_code", "entrances",
        "addrx_on_nonclosed_way", "buildings",
    )),
    ("operators.views", (
        "no_addr_street", "street_not_found", "place_not_found",
        "nodes_with_addresses_defined", "nodes_with_addresses_interpolated",
        "interpolation_errors",
    )),
)

CHECKPOINT_LABELS = {
    "entities": "sources.entities_checkpoint",
    "ways_geo": "operators.assembly.ways_geo_checkpoint",
}


class Labels:
    """Spark job-group labels, set from the benchmark thread when traced."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.current = None

    def set(self, label: str) -> str | None:
        prev, self.current = self.current, label
        if self.enabled:
            self.sc.setJobGroup(label, label)
        return prev


def timed_store(root: str):
    """A TableStore whose checkpoint and layer-table writes are timed and
    labelled from outside; storage behaviour is the package's own.
    ``build`` sets ``store.rec`` (where timings go) and ``store.labels``."""
    from osmi_addresses_spark.io.table import TableStore

    class TimedStore(TableStore):
        def write_once(self, name, df_factory, source_path=None, partition_by=None):
            before = self.manifest(name)
            prev = self.labels.set(CHECKPOINT_LABELS[name])
            t0 = time.perf_counter()
            try:
                path = super().write_once(name, df_factory, source_path, partition_by)
                elapsed = time.perf_counter() - t0
            finally:
                self.labels.set(prev)
            # reused: the committed version did not change
            reused = before is not None and self.manifest(name)["version"] == before["version"]
            self.rec["checkpoints"][name] = {"s": elapsed, "reused": reused}
            return path

        def write(self, name, df, partition_by=None, lineage=None, options=None):
            t0 = time.perf_counter()
            path = super().write(name, df, partition_by, lineage, options)
            if name.startswith("layer_"):
                self.rec["tables"][name] = time.perf_counter() - t0
            return path

    return TimedStore(root)


def build(spark, store, fx: str, labels: Labels, traced: bool) -> dict:
    """run_all + write_layers into ``store``; returns the per-call timings.
    Traced builds count each operator family's layers in between."""
    from osmi_addresses_spark.plans.pipeline import run_all, write_layers

    rec = store.rec = {"checkpoints": {}, "tables": {}, "materialize": {}}
    store.labels = labels
    docs = spark.read.parquet(os.path.join(fx, "documents.parquet"))
    t_start = time.perf_counter()
    labels.set("plans.pipeline.run_all")
    layers = run_all(spark, docs, store=store, source_path=fx)
    rec["run_all_s"] = time.perf_counter() - t_start
    if traced:
        for label, names in OPERATOR_COUNTS:
            labels.set(label)
            t0 = time.perf_counter()
            for n in names:
                layers[n].count()
            rec["materialize"][label] = time.perf_counter() - t0
    labels.set("plans.pipeline.write_layers")
    t0 = time.perf_counter()
    write_layers(layers, store)
    rec["write_layers_s"] = time.perf_counter() - t0
    rec["pipeline_s"] = time.perf_counter() - t_start
    return rec


def make_windows(rng: random.Random, n_towns: int, n: int) -> list:
    """Seeded map windows, each a quarter of a town's extent on a side,
    placed over a random town and alternating point and line layers."""
    from osmi_addresses_spark.fixtures.generator import (
        LAT0, LON0, PITCH_LAT, PITCH_LON, TOWN_H, TOWN_W,
    )

    g = max(1, math.ceil(math.sqrt(n_towns)))
    out = []
    for i in range(n):
        t = rng.randrange(n_towns)
        w = LON0 + PITCH_LON * (t % g) + rng.uniform(-0.1, 0.85) * TOWN_W
        s = LAT0 + PITCH_LAT * (t // g) + rng.uniform(-0.1, 0.85) * TOWN_H
        kind = "point" if i % 2 == 0 else "line"
        layer = rng.choice(POINT_LAYERS if kind == "point" else LINE_LAYERS)
        out.append((kind, layer, (w, s, w + TOWN_W / 4, s + TOWN_H / 4)))
    return out


def canonical(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def pyarrow_window(store, layer: str, bbox) -> list[dict]:
    """The same window, filtered by pyarrow over the committed snapshot."""
    import pyarrow.dataset as ds

    m = store.manifest(f"layer_{layer}")
    d = ds.dataset(os.path.join(store.root, m["version_dir"]), format="parquet")
    w, s, e, n = bbox
    if "_bbox_w" in d.schema.names:
        pred = ((ds.field("_bbox_w") <= e) & (ds.field("_bbox_e") >= w)
                & (ds.field("_bbox_s") <= n) & (ds.field("_bbox_n") >= s))
    else:
        lon, lat = ds.field("geom", "lon"), ds.field("geom", "lat")
        pred = (lon >= w) & (lon <= e) & (lat >= s) & (lat <= n)
    cols = [c for c in d.schema.names if not c.startswith("_bbox_")]
    return d.to_table(columns=cols, filter=pred).to_pylist()


def serve_windows(spark, store, rng, n_towns: int, seconds: float, labels: Labels):
    """Closed loop, one client: untimed warm-up reads, then timed reads for
    ``seconds`` (at least one). Every third timed read (point and line
    layers in turn), up to CHECKED_WINDOWS, keeps its rows for the
    pyarrow check."""
    from osmi_addresses_spark.io.window import read_layer_bbox

    labels.set("io.window")
    warmup_rows = 0
    for _kind, layer, bbox in make_windows(rng, n_towns, WARMUP_WINDOWS):
        warmup_rows += len(read_layer_bbox(spark, store, layer, bbox).collect())
    reads, kept = [], []
    deadline = time.perf_counter() + seconds
    batch = make_windows(rng, n_towns, 64)
    while not reads or time.perf_counter() < deadline:
        if not batch:
            batch = make_windows(rng, n_towns, 64)
        kind, layer, bbox = batch.pop()
        t0 = time.perf_counter()
        rows = read_layer_bbox(spark, store, layer, bbox).collect()
        ms = (time.perf_counter() - t0) * 1000
        reads.append({"kind": kind, "ms": ms, "rows": len(rows)})
        if len(kept) < CHECKED_WINDOWS and len(reads) % 3 == 1:
            kept.append((layer, bbox, [r.asDict(recursive=True) for r in rows]))
    return reads, kept, warmup_rows


def check_outputs(store, n_towns: int, kept, checkpoints: dict,
                  expect_reused: bool) -> tuple[int, list[str]]:
    """Output checks: returns how many ran and one message per failure."""
    import pyarrow.dataset as ds
    from osmi_addresses_spark.schemas import LAYER_NAMES

    bad = [f"checkpoint {name}: reused is {c['reused']}, expected {expect_reused}"
           for name, c in checkpoints.items() if c["reused"] != expect_reused]
    for name in LAYER_NAMES:
        m = store.manifest(f"layer_{name}")
        rows = sum(p["rows"] for p in m["partitions"].values())
        d = ds.dataset(os.path.join(store.root, m["version_dir"]), format="parquet")
        counted = d.to_table(columns=[d.schema.names[0]]).num_rows
        if rows != counted:
            bad.append(f"layer_{name}: manifest rows {rows} != {counted} read")
        if name == "nodes_with_addresses" and counted != ADDRS_PER_TOWN * n_towns:
            bad.append(f"nodes_with_addresses {counted} != {ADDRS_PER_TOWN} x {n_towns}")
    for layer, bbox, rows in kept:
        if canonical(rows) != canonical(pyarrow_window(store, layer, bbox)):
            bad.append(f"window {layer} {bbox}: Spark rows differ from pyarrow")
    return len(checkpoints) + len(LAYER_NAMES) + 1 + len(kept), bad


def manifest_totals(store, name: str) -> dict:
    parts = store.manifest(name)["partitions"].values()
    return {k: sum(p[k] for p in parts) for k in ("rows", "bytes", "files")}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("rebuild_cold", "resume_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="this process's scratch directory")
    ap.add_argument("--fixture", required=True, help="generated input, shared")
    ap.add_argument("--store", required=True, help="the table store to build into")
    ap.add_argument("--setup", action="store_true",
                    help="only build the store a resume_serve re-run starts from")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    n_towns = max(1, round(SF * 1000))

    from osmi_addresses_spark.fixtures.generator import write_fixture

    t0 = time.perf_counter()
    fx = write_fixture(SF, out_dir=args.fixture, seed=args.seed)
    with open(os.path.join(fx, "meta.json")) as f:
        meta = json.load(f)
    gen_s = time.perf_counter() - t0

    from osmi_addresses_spark.session import get_spark, warm_python_workers

    extra = {
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        logdir = os.path.join(args.work, "eventlog")
        os.makedirs(logdir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir,
            "spark.eventLog.rolling.enabled": "true",
        })
    setup = {}
    t0 = time.perf_counter()
    spark = get_spark(
        f"addrbench-{args.workload}", cores=cores, shuffle_partitions=cores,
        extra_conf=extra,
    )
    setup["get_spark_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    labels = Labels(spark, traced)
    labels.set("session.warm_python_workers")
    t0 = time.perf_counter()
    warm_python_workers(spark, cores)
    setup["warm_python_workers_s"] = time.perf_counter() - t0

    store = timed_store(args.store)
    if args.setup:
        t0 = time.perf_counter()
        build(spark, store, fx, labels, False)
        setup["initial_build_s"] = time.perf_counter() - t0
        spark.stop()
        with open(args.out, "w") as f:
            json.dump({"gen_s": gen_s, "setup": setup, "setup_s": sum(setup.values())}, f)
        return
    setup_s = sum(setup.values())

    rec = build(spark, store, fx, labels, traced)
    rng = random.Random(args.seed)
    reads, kept, warmup_rows = serve_windows(spark, store, rng, n_towns, args.seconds, labels)
    spark.stop()

    n_checks, failures = check_outputs(store, n_towns, kept, rec["checkpoints"],
                                       args.workload == "resume_serve")
    layer_names = [n[len("layer_"):] for n in rec["tables"]]
    layer_bytes = {n: manifest_totals(store, f"layer_{n}") for n in layer_names}
    nwa = layer_bytes["nodes_with_addresses"]["rows"]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "towns": n_towns,
        "n_docs": meta["n_docs"],
        "cores": cores,
        "gen_s": gen_s,
        "setup": setup,
        "setup_s": setup_s,
        "build": rec,
        "nwa_rows": nwa,
        "layers": layer_bytes,
        "checkpoints": {n: manifest_totals(store, n) for n in CHECKPOINT_LABELS},
        "store_bytes": sum(v["bytes"] for v in layer_bytes.values()),
        "reads": reads,
        "warmup_reads": WARMUP_WINDOWS,
        "warmup_rows": warmup_rows,
        "big_layers": BIG_LAYERS,
        "failures": failures,
        # the build, one commit per layer, every timed read, every check
        "attempted": 1 + len(layer_names) + len(reads) + n_checks,
    }
    if traced:
        from eventlog import summarize

        result["trace"] = summarize(logdir, cores)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
