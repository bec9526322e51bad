"""User-operation benchmark for bm25-index-tool-spark.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the corpus and operation streams
from ``--seed``, opens one Spark session, sets the workload's index up,
sends one warm-up search, drives whole rounds of the closed loop while
they fit in ``--seconds`` of operation time, checks every result against
the SQLite FTS5 oracle, and prints each metric on its own line (name,
value, unit, sample count) followed by one JSON object on the last line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and the Spark event log on and reports the per-layer
metrics instead.  Everything the run writes stays under
``.perfbench_work/`` in the working directory.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# import the program first: without it the run fails before doing anything
import bm25_index_tool_spark  # noqa: E402,F401
from bm25_index_tool_spark.client import BM25SparkClient  # noqa: E402

from check import Truth  # noqa: E402
from workloads import WORKLOADS, Inputs, dir_bytes, write_parquet  # noqa: E402

N_DOCS = 5_000
PARTITIONS = 16
DRIVER_MEMORY = "6g"
END_TO_END = {  # name -> unit; the set BENCHMARK.json gates
    "setup_s": "s",
    "search_p50_s": "s",
    "ops_per_s": "1/s",
    "index_bytes_per_input_byte": "ratio",
}


# -- run record ----------------------------------------------------------------

def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:9]))


def machine_state() -> dict:
    return {"load1": os.getloadavg()[0], "cpu": _cpu_stat(), "time": time.time()}


def steal_pct(a: list[int], b: list[int]) -> float:
    return 100.0 * (b[7] - a[7]) / max(1, sum(b) - sum(a))


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# -- session -------------------------------------------------------------------

def open_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = min(4, os.cpu_count() or 1)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(PARTITIONS))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
    )
    if trace:
        os.makedirs(f"{work}/eventlog")
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"{work}/eventlog")
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def close_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit.  ``spark.stop()`` leaves the
    gateway JVM running until the interpreter exits; the JVM exits on stdin
    EOF and stops its Python workers on the way out."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


# -- metrics -------------------------------------------------------------------

def report(name: str, value, unit: str, n: int | None = None) -> None:
    count = "" if n is None else f" n={n}"
    print(f"metric {name} = {value:.6g} {unit}{count}")


def end_to_end(wl, setup_s: float, peak_mb: float, index_bytes: int) -> dict:
    """Print every end-to-end metric that applies to the workload; return
    the gated set."""
    lp = wl.loop
    searches = lp.lat.get("search", []) + lp.lat.get("wand", [])
    out = {
        "setup_s": setup_s,
        "search_p50_s": statistics.median(searches) if searches else float("nan"),
        "ops_per_s": lp.ops / lp.busy if lp.busy else float("nan"),
        "index_bytes_per_input_byte": index_bytes / sum(
            len(r[4].encode()) for r in wl.truth.current()),
    }
    for k, v in out.items():
        n = {"search_p50_s": len(searches), "ops_per_s": lp.ops}.get(k, 1)
        report(k, v, END_TO_END[k], n)
    # not gated: the JVM sizes its heap adaptively, so the peak swings
    # ~20% from run to run
    report("peak_rss_mb", peak_mb, "MB", 1)
    if len(searches) >= 100:
        p90 = statistics.quantiles(searches, n=10, method="inclusive")[-1]
        report("search_p90_s", p90, "s", len(searches))
    else:
        print(f"# search_p90_s not reported: n={len(searches)} < 100")
    for kind, label in (("first_search", "first_search_s"), ("search", "join_p50_s"),
                        ("wand", "wand_p50_s"), ("batch", "batch_p50_s"),
                        ("semantic", "semantic_p50_s"), ("upsert", "upsert_p50_s")):
        if lp.lat.get(kind):
            report(label, statistics.median(lp.lat[kind]), "s", len(lp.lat[kind]))
    if lp.lat.get("upsert"):
        report("upsert_mean_s", statistics.fmean(lp.lat["upsert"]), "s", len(lp.lat["upsert"]))
    for kind in ("update_full", "merge", "compact"):
        if lp.lat.get(kind):
            report(f"{kind}_s", lp.lat[kind][0], "s", 1)
    if wl.recall:
        report("semantic_recall_at_10", statistics.fmean(wl.recall), "ratio", len(wl.recall))
    failed = lp.raised + lp.mismatched
    report("error_rate", failed / lp.attempted, "ratio", lp.attempted)
    if failed:
        print(f"PROGRAM DEFECT: {lp.raised} operations raised and {lp.mismatched} "
              f"returned results that differ from the FTS5 oracle (see stderr)")
    return out


def build_stage_times(index_dir: str) -> dict[str, float]:
    """Stage durations the build records in ``_checkpoints/stage_<name>.json``."""
    out = {}
    for stage in ("docs", "postings", "termstats"):
        with open(os.path.join(index_dir, "_checkpoints", f"stage_{stage}.json")) as f:
            out[f"build.stage_{stage}_s"] = float(json.load(f)["duration_sec"])
    return out


# -- main ------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")  # private to this run
    records = os.path.join(base, "records")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(records, exist_ok=True)
    try:
        return _run(args, work, records)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, records: str) -> int:
    trace = bool(args.trace)
    # the JVM and its Python workers inherit these: scratch files stay in
    # the work dir and the workers can import the program
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no /tmp/hsperfdata_* from the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    start = machine_state()
    # inputs and the oracle are built before any timer starts
    inputs = Inputs(args.seed, args.workload, N_DOCS)
    corpus_path = os.path.join(work, "corpus.parquet")
    write_parquet(corpus_path, inputs.rows)
    truth = Truth(inputs.rows)

    t0 = time.perf_counter()
    spark, cores = open_session(work, trace)
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        if trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            # the session opened before the tracer could exist
            now = time.time()
            tracer.spans.append({"id": "pb-session", "name": "session.open", "parent": None,
                                 "start": now - session_s, "end": now})
            tracer.instrument()
        client = BM25SparkClient(spark, os.path.join(work, "root"))
        wl = WORKLOADS[args.workload](spark, client, inputs, truth, args.seconds, work)
        t1 = time.perf_counter()
        wl.setup(corpus_path)
        setup_s = session_s + time.perf_counter() - t1
        stages = build_stage_times(wl.index_dir)
        wl.warm_up()
        wl.run()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        peak_mb = (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024
        index_bytes = dir_bytes(wl.index_dir)
        index_parts = {d: dir_bytes(os.path.join(wl.index_dir, d))
                       for d in sorted(os.listdir(wl.index_dir))}
        cache = client.cache.stats()
        spark_version = spark.version
    finally:
        if tracer is not None:
            tracer.restore()
        close_session(spark)
    end = machine_state()

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_docs": N_DOCS, "nproc": os.cpu_count(),
        "master": f"local[{cores}]", "shuffle_partitions": PARTITIONS,
        "driver_memory": DRIVER_MEMORY, "python": platform.python_version(),
        "spark": spark_version,
        "load1_start": start["load1"], "load1_end": end["load1"],
        "steal_pct": steal_pct(start["cpu"], end["cpu"]),
        "wall_s": end["time"] - start["time"],
    }
    print("record " + json.dumps(record))
    metrics_e2e = end_to_end(wl, setup_s, peak_mb, index_bytes)
    lp = wl.loop
    failed = lp.raised + lp.mismatched
    if trace:
        from spans import PER_LAYER, layer_metrics, read_jobs

        searches = lp.lat.get("search", []) + lp.lat.get("wand", [])
        n_search = max(1, len(searches))
        extra = {
            **stages,
            "cache.hits": cache["hits"], "cache.misses": cache["misses"],
            "cache.hit_ratio": cache["hit_rate"],
            "blocks.bytes": 0.0, "delta_store.segments": 0.0,
            "delta_store.write_amp": 0.0,
            **wl.extra,
            "trace.search_p50_s": metrics_e2e["search_p50_s"],
            "trace.self_s": tracer.self_s / n_search,
        }
        per_layer = layer_metrics(tracer.spans, read_jobs(os.path.join(work, "eventlog")),
                                  extra)
        tracer.dump(os.path.join(records, f"spans-{args.workload}-{args.seed}.json"))
        for k, u in PER_LAYER.items():
            report(k, per_layer[k], u)
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": metrics_e2e[k], "unit": u} for k, u in END_TO_END.items()}
    record.update(attempted=lp.attempted, failed=failed, errors=lp.errors[:20],
                  latencies=lp.lat, index_bytes=index_parts,
                  metrics={k: v["value"] for k, v in metrics.items()})
    with open(os.path.join(records, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": lp.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
