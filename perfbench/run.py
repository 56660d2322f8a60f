"""Benchmark of the ktpm___ocr_spark engine on the host it runs on.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Runs one workload (``extract``, ``corpus_build`` or ``nightly_increment``,
see ``workloads.py``) on ``local[nproc]`` in one driver process, as a
closed loop: the timed job repeats, one batch at a time, until
``--seconds`` of job time have passed. Outputs are checked against
references outside the timed window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, runs every workload's stages once and prints the
per-layer metrics instead (``spec.per_layer``), so every traced run
reports every layer.

Stdout holds only ``<metric> <value> <unit>`` lines and, last, one JSON
object. Spark and py4j logs go to stderr. The full result, stamped with
host context, is written under ``perfbench/.work/results/``. The exit
code is non-zero when any stage or check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import hostfit  # noqa: E402
import spec  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import (  # noqa: E402
    BASE_DOCS,
    DISK_MB_PER_KDOC,
    EXTRACT_DOCS,
    INCREMENT_DOCS,
    SETUP_REPS,
    SLICE_DOCS,
    TRACED,
    WORKLOADS,
    Ctx,
    StageFailed,
    scaling_probe,
)

WORK = os.path.join(HERE, ".work")


def start_session(work: str, level: int, event_dir: str | None):
    """``session.get_spark`` at ``local[level]`` with every path the JVM
    and its workers write kept under ``work``."""
    from ktpm___ocr_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{hostfit.driver_heap_mb()}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed heap: G1 otherwise grows it at its own pace, and the
        # driver's resident set with it, differently from run to run.
        "spark.driver.extraJavaOptions": (
            f"-Xms{hostfit.driver_heap_mb()}m "
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir,
        })
    master = f"local[{hostfit.check_level(level)}]"
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(wl, ctx: Ctx) -> dict:
    """Set the workload up SETUP_REPS times, then warm up; medians."""
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        wl.setup(ctx)
        reps.append(time.monotonic() - t0)
    t0 = time.monotonic()
    with ctx.tracer.span("setup.warmup"):
        wl.warmup(ctx)
    return {
        "reps_s": reps,
        "median_s": statistics.median(reps),
        "warmup_s": time.monotonic() - t0,
        "generate_s": statistics.median(ctx.tracer.durations("setup.generate")),
        "prepare_s": statistics.median(ctx.tracer.durations("setup.prepare")),
    }


def timed_loop(wl, ctx: Ctx, seconds: float, sampler) -> dict:
    """Repeat the job until ``seconds`` of job time have passed; stage row
    counts must repeat exactly from one repetition to the next."""
    sampler.reset()
    walls, rows = [], []
    while not walls or sum(walls) < seconds:
        t0 = time.monotonic()
        wl.job(ctx)
        walls.append(time.monotonic() - t0)
        rows.append(dict(ctx.rows))
    peak = sampler.peak_mb()
    ctx.check(
        f"{wl.name}.rows_repeat", all(r == rows[0] for r in rows),
        f"{len(rows)} repetitions",
    )
    return {"walls_s": walls, "peak_rss_mb": peak}


def fingerprint_check(wl, ctx: Ctx) -> None:
    """Stage row counts and content hashes equal every earlier run of this
    seed and size in this checkout."""
    if not hasattr(wl, "fingerprint"):
        return
    fp = wl.fingerprint(ctx)
    path = os.path.join(
        WORK, "fingerprints", f"{wl.name}-seed{ctx.seed}-docs{wl.n_docs}.json"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        diff = [s for s in fp if fp[s] != want.get(s)]
        ctx.check(f"{wl.name}.same_as_earlier_runs", not diff, f"differ: {diff}")
    else:
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(fp, f)
        os.replace(tmp, path)


def confs(spark) -> dict:
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.driver.memory",
        "spark.sql.adaptive.enabled",
        "spark.master",
    )
    return {k: spark.conf.get(k, None) for k in keys}


def trace_overhead(info: dict) -> dict:
    """Traced job wall minus the median untraced wall_s of the earlier
    results in this checkout, per workload that has any."""
    results = os.path.join(WORK, "results")
    names = os.listdir(results) if os.path.isdir(results) else []
    out = {}
    for w, i in info.items():
        walls = []
        for f in names:
            if f.startswith(f"{w}-seed") and "-trace0-" in f and f.endswith(".json") \
                    and not f.endswith(".spans.json"):
                with open(os.path.join(results, f)) as fh:
                    wall = json.load(fh).get("metrics", {}).get("wall_s")
                if wall:
                    walls.append(wall["value"])
        if walls:
            out[w] = i["wall_s"] - statistics.median(walls)
    return out


def layer_metrics(ctx: Ctx, log: dict, wls: dict, setup_info: dict) -> dict:
    """Every ``spec.per_layer`` metric from this traced run."""
    span = ctx.tracer.durations
    m: dict[str, float] = {}
    for stage in spec.FULL_STAGES + spec.LIGHT_STAGES:
        m[f"{stage}.build_s"] = statistics.median(span(stage + ".build"))
        m[f"{stage}.action_s"] = statistics.median(span(stage + ".action"))
        m[f"{stage}.rows_out"] = ctx.rows[stage]
    for stage in spec.FULL_STAGES:
        for k, v in eventlog.layer_counters(log.get(stage, {})).items():
            m[f"{stage}.{k}"] = v

    def mapinarrow_emitting(col):
        return lambda name, simple: name == "MapInArrow" and col in simple.split("[")[-1]

    # The two Python kernels of a near-dup stage are the banding and the
    # verify. The verify's plan node is always posted; the banding kernel
    # may sit in a cached relation whose plan is not, so its time is the
    # stage's Python time less the verify's.
    for stage in ("minhash_pairs", "increment_dedup"):
        st = log.get(stage, {})
        verify = mapinarrow_emitting("jaccard")
        m[f"{stage}.verify_python_s"] = eventlog.python_s(st, verify)
        m[f"{stage}.band_python_s"] = eventlog.python_s(st) - m[f"{stage}.verify_python_s"]
        m[f"{stage}.verify_yield"] = ctx.rows[stage] / max(eventlog.node_rows(st, verify), 1)
    m["increment_dedup.band_scan_mb"] = eventlog.scan_mb(
        log.get("increment_dedup", {}), "band_hash"
    )

    def join_keys(name: str, simple: str) -> str:
        return simple.split("]")[0] if "Join" in name else ""

    mp = log.get("minhash_pairs", {})
    m["minhash_pairs.selfjoin_s"] = eventlog.self_s_of_stages_with(
        mp, lambda name, simple: "band_hash" in join_keys(name, simple)
    )
    m["minhash_pairs.joinback_s"] = eventlog.self_s_of_stages_with(
        mp,
        lambda name, simple: "id_a" in join_keys(name, simple)
        or "id_b" in join_keys(name, simple),
    )
    m["extract_narrow.action_s"] = statistics.median(span("extract_narrow.action"))
    m["setup.session_s"] = setup_info["session_s"]
    m["setup.generate_s"] = setup_info["generate_s"]
    m["setup.prepare_s"] = setup_info["prepare_s"]
    m["error_rate"] = ctx.failed / max(ctx.attempted, 1)
    return m


def run(args, out) -> int:
    name = args.workload
    n = hostfit.nproc()
    run_id = f"{name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    names = list(TRACED) if args.trace else [name]
    need = sum(TRACED[w].n_docs for w in names) // 1000 * DISK_MB_PER_KDOC
    hostfit.require_disk(work, need)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    stamp = hostfit.stamp(ROOT)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    tracer = Tracer(run_id)
    sampler = hostfit.RssSampler(os.getpid()).start()
    spark = None
    result: dict = {"workload": name, "seed": args.seed, "trace": args.trace}
    try:
        t0 = time.monotonic()
        with tracer.span("setup.session"):
            spark = start_session(work, n, event_dir)
        session_s = time.monotonic() - t0
        ctx = Ctx(spark, tracer, work, args.seed)
        wls = {w: TRACED[w]() for w in names}
        info = {}
        for w, wl in wls.items():
            ctx.work = os.path.join(work, w)
            if args.trace:
                t0 = time.monotonic()
                wl.setup(ctx)
                wl.warmup(ctx)
                info[w] = {"setup_s": time.monotonic() - t0}
                t0 = time.monotonic()
                wl.job(ctx)
                info[w]["wall_s"] = time.monotonic() - t0
                wl.traced_extras(ctx)
            else:
                info[w] = setup(wl, ctx)
                info[w].update(timed_loop(wl, ctx, args.seconds, sampler))
            wl.check(ctx)
            fingerprint_check(wl, ctx)
        result.update(spark_version=spark.version, confs=confs(spark))
        ctx.work = os.path.join(work, name)
        result["scaling"] = scaling_probe(ctx, wls[name].slice)
        stop_jvm(spark)
        spark = None
        if args.trace:
            setup_info = {
                "session_s": session_s,
                "generate_s": statistics.median(tracer.durations("setup.generate")),
                "prepare_s": statistics.median(tracer.durations("setup.prepare")),
            }
            metrics = layer_metrics(ctx, eventlog.parse_dir(event_dir), wls, setup_info)
            units = spec.per_layer()
        else:
            i = info[name]
            metrics = {
                "wall_s": statistics.median(i["walls_s"]),
                "setup_s": session_s + i["median_s"] + i["warmup_s"],
                "peak_rss_mb": i["peak_rss_mb"],
                "scaling_eff": result["scaling"]["scaling_eff"],
            }
            units = {k: v[0] for k, v in spec.END_TO_END.items()}
        result["runs"] = info
        if args.trace:
            result["trace_overhead_s"] = trace_overhead(info)
    except StageFailed as exc:
        traceback.print_exc()
        ctx.checks.append({"check": str(exc), "ok": False, "detail": "stage raised"})
        metrics, units = {}, {}
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)

    end_load = hostfit.loadavg()
    stamp.update(
        loadavg_end=end_load,
        # the end value carries this run's own load, so only the start
        # value can say that something else was busy
        noise_suspect=stamp["loadavg_start"][0] > stamp["nproc"],
        sizes={
            "extract_docs": EXTRACT_DOCS, "base_docs": BASE_DOCS,
            "increment_docs": INCREMENT_DOCS, "slice_docs": SLICE_DOCS,
        },
    )
    correct = ctx.failed == 0 and bool(metrics)
    result.update(
        host=stamp, checks=ctx.checks, attempted=ctx.attempted, failed=ctx.failed,
        metrics={k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    res_path = os.path.join(WORK, "results", run_id + ".json")
    with open(res_path, "w") as f:
        json.dump(result, f, indent=1)
    tracer.write(os.path.join(WORK, "results", run_id + ".spans.json"))
    if event_dir:
        shutil.move(event_dir, os.path.join(WORK, "results", run_id + ".eventlog"))
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: result in {res_path}", file=sys.stderr)
    for c in ctx.checks:
        if not c["ok"]:
            print(f"perfbench: FAILED {c['check']}: {c['detail']}", file=sys.stderr)

    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}", file=out)
    print(json.dumps({
        "correct": correct,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": result["metrics"],
    }), file=out)
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Only metric lines reach the real stdout: the JVM, the Python workers
    # and every library print inherit fd 1 pointed at stderr.
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    try:
        import ktpm___ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not under {ROOT}: {exc}", file=sys.stderr)
        return 2
    return run(args, out)


if __name__ == "__main__":
    sys.exit(main())
