"""deepie_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Load shape: a closed loop with one client.  The process submits one op,
waits for it, checks its output, and submits the next until
``--seconds`` have passed.  Spark runs at ``local[<nproc>]``.  Inputs
are generated from ``--seed`` in this process, BLAS is clamped to one
thread, and everything the run writes stays under ``.perfbench_work/``
at the checkout root.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is a
separate run that adds spans around the pipeline's public calls, reads
Spark task metrics from the event log, splits the extraction kernel by
phase and measures local[1] vs local[<nproc>] scaling; it prints the
per-layer metrics.  Earlier stdout lines hold a full report (host
record, seed, every op, tail latency, error rate); the last line is
the result object.  The exit code is non-zero if any op fails or any
output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = ROOT / ".perfbench_work"
T_START = time.perf_counter()
# no op starts that would end past this many seconds of the process, so a
# run on a slow host still exits within 180 s (finish checks, the traced
# run's extras and Spark shutdown come after the loop)
OP_DEADLINE_S = 150
STAGES = ("texts", "tokens", "mentions", "triples", "linked",
          "entity_clusters", "kg_triples", "kg_entities")
STAGE_FIELDS = ("wall_s", "write_s", "fingerprint_s", "task_run_s",
                "task_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "jobs", "tasks", "rows_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: Path, cores: int) -> None:
    """Must run before numpy/pyspark are imported."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "DEEPIE_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    sys.path[:0] = [str(ROOT), str(BENCH_DIR)]


def start_spark(run_dir: Path, cores: int, trace: bool):
    from deepie_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def dir_stats(path: Path | None) -> tuple[int, int]:
    if path is None or not path.exists():
        return 0, 0
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def tail(values: list[float]) -> dict | None:
    """Highest percentile with at least ten ops beyond it."""
    n = len(values)
    if n < 11:
        return None
    pct = 100.0 * (n - 10) / n
    return {"value": sorted(values)[n - 11], "percentile": round(pct, 2),
            "ops": n}


def host_record(probe_once) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "loadavg": os.getloadavg(),
        "probe_s": probe_once(1_500_000),
    }


def per_layer(ops, spans, log, cores, kernel, scaling, session_start_s,
              peak_rss_mb, measured):
    from spans import TOTALS, attribute

    out = {"session.start_s": session_start_s, "memory.peak_rss_mb": peak_rss_mb,
           "lakehouse.merge_matched_share": 0.0}
    out.update(kernel)
    out.update(measured)
    out["spark.scaling_eff_1_to_4"] = scaling
    for st in STAGES:
        for f in STAGE_FIELDS:
            out[f"stage.{st}.{f}"] = 0.0
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        todo, got = [sid], []
        while todo:
            x = todo.pop()
            got.append(x)
            todo.extend(kids.get(x, []))
        return got

    def dur(s):
        return s["end"] - s["start"]

    spark_by_span = attribute(spans, log)
    traced = [o for o in ops if o["span"] is not None]
    n = max(len(traced), 1)

    def total(ids):
        t = dict(TOTALS)
        for i in ids:
            for k, v in spark_by_span.get(i, {}).items():
                t[k] += v
        return t

    driver = occupancy = 0.0
    jobs = tasks = ok = 0
    for o in traced:
        op = by_id[o["span"]]
        stage_wall = 0.0
        for sid in kids.get(op["id"], []):
            s = by_id[sid]
            if not s["name"].startswith("stage."):
                continue
            name = s["name"][len("stage."):]
            ids = subtree(sid)
            stage_wall += dur(s)
            t = total(ids)
            prefix = f"stage.{name}."
            out[prefix + "wall_s"] += dur(s) / n
            for label, field in (("write", "write_s"), ("fingerprint", "fingerprint_s")):
                out[prefix + field] += sum(
                    dur(by_id[i]) for i in ids if by_id[i]["name"] == label) / n
            out[prefix + "task_run_s"] += t["run_s"] / n
            out[prefix + "task_cpu_s"] += t["cpu_s"] / n
            out[prefix + "shuffle_write_bytes"] += t["shuffle_write"] / n
            out[prefix + "shuffle_read_bytes"] += t["shuffle_read"] / n
            out[prefix + "spill_bytes"] += t["spill"] / n
            out[prefix + "jobs"] += t["jobs"] / n
            out[prefix + "tasks"] += t["tasks"] / n
        for st, rows in o.get("stage_rows", {}).items():
            if f"stage.{st}.rows_out" in out:
                out[f"stage.{st}.rows_out"] += rows / n
        if stage_wall:  # ops of a pipeline; extract_long has no stages
            driver += (dur(op) - stage_wall) / n
        t = total(subtree(op["id"]))
        occupancy += t["run_s"] / (dur(op) * cores) / n
        jobs += t["jobs"]
        tasks += t["tasks"]
        ok += t["ok"]
    out["pipeline.driver_s"] = driver
    out["spark.occupancy"] = occupancy
    out["spark.task_attempt_ratio"] = ok / tasks if tasks else 0.0
    out["spark.jobs_per_op"] = jobs / n
    good = [o for o in ops if o["ok"]]
    m = max(len(good), 1)
    out["lakehouse.bytes_written"] = sum(o["bytes_written"] for o in good) / m
    out["lakehouse.files_written"] = sum(o["files_written"] for o in good) / m
    out["lakehouse.versions"] = sum(o.get("versions", 0) for o in good) / m
    last = good[-1] if good else {}
    out["lakehouse.bytes_per_kg_triple"] = (
        last["lake_bytes"] / last["kg_rows"] if last.get("kg_rows") else 0.0)
    plain = [o["seconds"] for o in good if o["span"] is None]
    with_spans = [o["seconds"] for o in good if o["span"] is not None]
    out["trace.overhead_s"] = (
        statistics.median(with_spans) - statistics.median(plain)
        if plain and with_spans else 0.0)
    return out


def span_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name, summed over the traced ops."""
    from spans import self_times

    out: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        name = spans[sid]["name"]
        out[name] = out.get(name, 0.0) + t
    return out


def measure_scaling(spark, run_dir, cores, w) -> tuple[dict, object]:
    """Extraction over the workload's pages at local[cores] vs local[1]:
    efficiency (t1 / t_cores) / cores.  Restarts the SparkContext;
    returns the timings and the local[1] session."""
    from pyspark.sql import functions as F

    from deepie_spark.operators.extract import extract_triples_fused

    def timed(sess) -> float:
        bc = sess.sparkContext.broadcast(w.extractor)
        df = sess.read.parquet(*w.scaling_pages.inputFiles())
        # a new DataFrame per action: re-collecting one would reuse its
        # materialized shuffle; the first action warms workers + broadcast
        for _ in range(2):
            t0 = time.perf_counter()
            extract_triples_fused(df, bc).agg(F.count(F.lit(1))).collect()
        return time.perf_counter() - t0

    t_n = timed(spark)
    spark.stop()
    from deepie_spark.session import get_spark

    one = get_spark(app_name="perfbench", master="local[1]", shuffle_partitions=1,
                    extra_conf={"spark.ui.showConsoleProgress": "false",
                                "spark.sql.warehouse.dir": str(run_dir / "warehouse")})
    t_1 = timed(one)
    return {"t1_s": t_1, "tN_s": t_n, "eff": (t_1 / t_n) / cores}, one


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a SIGTERM still stops Spark and removes the run's files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace = bool(args.trace)
    cores = nproc()
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, cores)
    try:
        return run(args, trace, cores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, trace: bool, cores: int, run_dir: Path) -> int:
    try:
        import deepie_spark.plans.pipeline  # noqa: F401
        from scripts.host_weather import probe_once

        from kernel_phases import run_phases
        from spans import RssSampler, Tracer, install_pipeline_wrappers, read_event_log
        from workloads import WORKLOADS, Ctx
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host_before = host_record(probe_once)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(run_dir, cores, trace)
        session_start_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext)
        if trace:
            install_pipeline_wrappers(tracer, spark)
        ctx = Ctx(spark, run_dir, args.seed, cores)
        w = WORKLOADS[args.workload]()
        w.setup(ctx)
        setup_s = time.perf_counter() - t_setup

        ops: list[dict] = []
        t_loop = time.perf_counter()
        while w.has_next():
            elapsed = time.perf_counter() - t_loop
            kinds = {o["span"] is not None for o in ops}
            if elapsed >= args.seconds and ops and (not trace or len(kinds) == 2):
                break
            if ops and time.perf_counter() - T_START + ops[-1]["seconds"] > OP_DEADLINE_S:
                break
            traced_op = trace and len(ops) % 2 == 0
            lake_before = dir_stats(getattr(w, "lake_root", None))
            tracer.enabled = traced_op
            tracer.op_id = len(ops)
            rec = {"ok": False, "span": None, "problems": []}
            t0 = time.perf_counter()
            try:
                with tracer.span("op") as sp:
                    info = w.op(ctx)
                rec["seconds"] = time.perf_counter() - t0
                rec["span"] = sp["id"] if sp else None
            except Exception:
                rec["seconds"] = time.perf_counter() - t0
                rec["problems"].append(traceback.format_exc(limit=3))
                info = None
            tracer.enabled = False
            if info is not None:
                try:
                    rec["problems"] += w.check(ctx, info)
                except Exception:
                    rec["problems"].append(traceback.format_exc(limit=3))
                rec["ok"] = not rec["problems"]
                b, f = dir_stats(info.lake)
                rec.update(
                    pages=info.pages, triples=info.triples,
                    lake_bytes=b,
                    bytes_written=b - lake_before[0],
                    files_written=f - lake_before[1],
                    versions=info.extra.get("versions", 0),
                    kg_rows=info.extra.get("kg_rows", 0),
                    stage_rows=info.extra.get("stage_rows", {}),
                )
                w.release(info)
            ops.append(rec)
        finish_problems = w.finish(ctx)

        kernel, scaling = {}, {}
        if trace:
            texts = w.kernel_texts()
            sample = random.Random(args.seed).sample(
                texts, min(w.KERNEL_SAMPLE, len(texts)))
            kernel = run_phases(w.extractor, sample)
            if w.MEASURES_SCALING:
                scaling, spark = measure_scaling(spark, run_dir, cores, w)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()

    if finish_problems and ops:
        # the run-level check covers the state the last op left behind
        ops[-1]["ok"] = False
        ops[-1]["problems"] += finish_problems
    good = [o for o in ops if o["ok"]]
    failed = len(ops) - len(good)
    attempted = len(ops)
    correct = failed == 0
    op_seconds = [o["seconds"] for o in good if o["span"] is None] or [1e9]
    busy = sum(o["seconds"] for o in good) or 1e9
    precision, recall = w.precision_recall()
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(op_seconds), "s"),
        "pages_per_s": (sum(o["pages"] for o in good) / busy, "1/s"),
        "triples_per_s": (sum(o["triples"] for o in good) / busy, "1/s"),
        "triple_precision": (precision, "ratio"),
        "triple_recall": (recall, "ratio"),
    }
    report = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "cores": cores,
        "host_before": host_before, "host_after": host_record(probe_once),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_tail_s": tail(op_seconds),
        "error_rate": failed / max(attempted, 1),
        "lake_bytes_per_kg_triple": (
            good[-1]["lake_bytes"] / good[-1]["kg_rows"]
            if good and good[-1].get("kg_rows") else None),
        "ops": [{k: o.get(k) for k in ("seconds", "ok", "span", "pages",
                                       "triples", "problems")} for o in ops],
        "finish_problems": finish_problems,
        "workload_measures": w.layer_metrics(),
        "peak_rss_mb": rss.peak_mb(),
        "peak_rss_processes_mb": [round(kb / 1024) for kb in rss.peak_detail],
    }
    if trace:
        spans = tracer.spans
        log = read_event_log(run_dir / "eventlog")
        metrics = per_layer(ops, spans, log, cores, kernel, scaling.get("eff", 0.0),
                            session_start_s, rss.peak_mb(), w.layer_metrics())
        report["self_s"] = span_self_times(spans)
        report["scaling"] = scaling
        report["per_layer"] = metrics
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{w.name}-seed{args.seed}.json")
        units = {m["name"]: m["unit"] for m in json.loads(
            (ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        result_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        result_metrics = report["end_to_end"]
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
