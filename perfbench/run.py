"""Layered, closed-loop benchmark of backend_model_spark.

One client runs the registered query functions of a workload one after
another, each as a timed *build* span (``registry.queries()[name]``)
followed by a timed *action* span (a ``noop`` write). Inputs are
generated from ``--seed``; outputs are checked once against the
registered DuckDB oracles, outside every timed span.

    python3 perfbench/run.py --workload lineage --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --report report.json

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log and reports the per-layer metrics instead. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Everything else a
run produces goes under ``.perfbench_run/`` at the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
sys.path.insert(0, HERE)

from stats import covered, median, tail_percentile  # noqa: E402
from workloads import (  # noqa: E402
    MIN_PASSES,
    SETUP_SAMPLES,
    TRAINER_PROBE,
    WORKLOADS,
)

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host


def host_geometry(run_dir: str) -> dict:
    """Cores from the CPU affinity mask, heap from ``MemAvailable``."""
    cores = len(os.sched_getaffinity(0))
    avail_mb = 4096
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    heap_mb = min(8192, max(1024, avail_mb // 4)) // 256 * 256
    return {
        "cores": cores,
        "heap_mb": heap_mb,
        "mem_available_mb": avail_mb,
        "local_dir": os.path.join(run_dir, "local"),
        "tmp_dir": os.path.join(run_dir, "tmp"),
    }


def configure_env(geo: dict, run_dir: str) -> None:
    """Set before the session module is imported: it reads these at import."""
    os.makedirs(geo["local_dir"], exist_ok=True)
    os.makedirs(geo["tmp_dir"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(geo["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{geo['heap_mb']}m"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = geo["local_dir"]
    os.environ["TMPDIR"] = geo["tmp_dir"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package by name, whatever the cwd
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={geo['tmp_dir']} -XX:-UsePerfData "
        f"-XX:ErrorFile={os.path.join(run_dir, 'hs_err_pid%p.log')}"
    )
    sys.path.insert(0, ROOT)


def spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def make_inputs(seed: int, sf: float) -> str:
    out = os.path.join(WORK, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_COMPLETE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"),
             "--seed", str(seed), "--sf", str(sf), "--out", out],
            check=True,
        )
        open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


def schedule(seed: int, pass_no: int, entries) -> list[str]:
    """Entry order of one pass: a permutation fixed by (seed, pass)."""
    import random

    order = sorted(entries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


# ------------------------------------------------------------- harness


class Harness:
    """Runs entries under tagged spans and keeps the spans in memory."""

    def __init__(self, run_id: str, sf_dir: str):
        from backend_model_spark.plans import registry

        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.run_id = run_id
        self.sf_dir = sf_dir
        self.spans: list[dict] = []

    def span(self, name, start, end, parent=None, **extra):
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id, **extra})

    def reset(self, spark) -> None:
        """Between entries, outside the timed spans."""
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    def execute(self, spark, name: str, tag: str, parent: str | None) -> dict:
        """One entry: a build span, then an action span, each job-tagged."""
        sc = spark.sparkContext
        rec = {"entry": name, "tag": tag, "ok": False}
        try:
            sc.setJobGroup(tag + ":build", tag + ":build")
            sc.addJobTag(tag + ":build")
            t0 = time.time()
            try:
                df = self.queries[name](spark, self.sf_dir)
            finally:
                t1 = time.time()
                sc.clearJobTags()
            sc.setJobGroup(tag + ":action", tag + ":action")
            sc.addJobTag(tag + ":action")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                t2 = time.time()
                sc.clearJobTags()
            tracker = sc.statusTracker()
            rec.update(
                ok=True,
                build=(t0, t1),
                action=(t1, t2),
                build_jobs=len(tracker.getJobIdsForGroup(tag + ":build")),
                action_jobs=len(tracker.getJobIdsForGroup(tag + ":action")),
            )
            self.span(name, t0, t2, parent, kind="entry", tag=tag)
            self.span("build", t0, t1, tag, kind="build", tag=tag + ":build")
            self.span("action", t1, t2, tag, kind="action", tag=tag + ":action")
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            log(f"[perfbench] {name} failed: {rec['error']}")
        return rec

    def check(self, spark, names) -> dict:
        """Compare each entry's rows with its DuckDB oracle, once.

        Same canonical cells as ``testing.oracle.compare`` (floats to 9
        decimals, arrays as tuples), compared as multisets of rows.
        """
        from collections import Counter

        from backend_model_spark.testing.oracle import _canon_cell, run_oracle

        def rows(pdf):
            cols = sorted(pdf.columns)
            return Counter(
                tuple(_canon_cell(v) for v in row)
                for row in pdf[cols].itertuples(index=False, name=None)
            )

        spark.sparkContext.setJobGroup("perfbench:check", "output check")
        results = {}
        for name in sorted(names):
            t0 = time.time()
            try:
                got = self.queries[name](spark, self.sf_dir).toPandas()
                want = run_oracle(self.oracles[name], self.sf_dir)
                problems = []
                if sorted(got.columns) != sorted(want.columns):
                    problems.append(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
                elif rows(got) != rows(want):
                    diff = list((rows(got) - rows(want)).elements())[:2]
                    problems.append(f"{len(got)} vs {len(want)} rows; spark-only {diff}")
                results[name] = {"ok": not problems, "rows": len(got),
                                 "problems": problems, "seconds": time.time() - t0}
            except Exception as exc:  # noqa: BLE001
                results[name] = {"ok": False, "rows": None,
                                 "problems": [f"{type(exc).__name__}: {str(exc)[:300]}"]}
        return results


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def py_peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------- a run


def run_workload(args) -> int:
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_id = f"{wl.name}-seed{args.seed}-trace{int(trace)}"
    run_dir = os.path.join(WORK, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sf_dir = make_inputs(args.seed, wl.sf)
    geo = host_geometry(run_dir)
    configure_env(geo, run_dir)
    passes = max(MIN_PASSES, round(args.seconds / wl.pass_s))

    t_start = time.time()
    from backend_model_spark.session import get_spark

    harness = Harness(run_id, sf_dir)
    # The imported modules live for the whole run; frozen, they are not
    # rescanned by the Python GC of every reset (on a 4-core host it
    # went from 85 ms to 17 ms a reset).
    gc.collect()
    gc.freeze()
    conf = spark_conf(run_dir, trace)
    result: dict = {"workload": wl.name, "seed": args.seed, "trace": trace,
                    "sf": wl.sf, "passes": passes, "schedule": {}}
    spark = None
    try:
        setups, session_s = [], []
        for k in range(SETUP_SAMPLES):
            if spark is not None:
                spark.stop()
            t0 = t_start if k == 0 else time.time()
            s0 = time.time()
            spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
            session_s.append(time.time() - s0)
            order = schedule(args.seed, -1 - k, wl.entries)
            result["schedule"][f"warmup{k}"] = order
            for i, name in enumerate(order):
                harness.reset(spark)
                harness.execute(spark, name, f"w{k}:{i}:{name}", None)
            setups.append(time.time() - t0)
            harness.span(f"setup{k}", t0, t0 + setups[-1], kind="setup")

        execs = []
        for p in range(passes):
            order = schedule(args.seed, p, wl.entries)
            result["schedule"][f"pass{p}"] = order
            p0 = time.time()
            pass_tag = f"p{p}"
            for i, name in enumerate(order):
                harness.reset(spark)
                rec = harness.execute(spark, name, f"p{p}:{i}:{name}", pass_tag)
                rec["pass"] = p
                execs.append(rec)
            harness.span(pass_tag, p0, time.time(), kind="pass", tag=pass_tag)

        jvm_rss = vm_hwm_mb(jvm_pid(spark))
        py_rss = py_peak_rss_mb()
        c0 = time.time()
        checks = harness.check(spark, wl.entries)
        result["check_s"] = time.time() - c0
        local_dir = spark.sparkContext.getConf().get("spark.local.dir")
        result["host"] = {
            "cores": geo["cores"],
            "heap_mb": geo["heap_mb"],
            "mem_available_mb": geo["mem_available_mb"],
            "spark_local_dir": local_dir and os.path.relpath(local_dir, ROOT),
            "spark_version": spark.version,
            "java_version": spark._jvm.System.getProperty("java.version"),
        }
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None

        ok = [r for r in execs if r["ok"] and checks[r["entry"]]["ok"]]
        failed = len(execs) - len(ok)
        times = [r["action"][1] - r["build"][0] for r in ok]
        pass_walls = [
            sum(r["action"][1] - r["build"][0] for r in ok if r["pass"] == p)
            for p in range(passes)
        ]
        tail = tail_percentile(times)
        e2e = {
            "setup_s": median(setups),
            "wall_s": median(pass_walls),
            "query_p50_s": median(times),
            # fewer than 20 successful executions only happens in a failed run
            "query_tail_s": tail[1] if tail else max(times, default=0.0),
            "jvm_peak_rss_mb": jvm_rss,
            "py_peak_rss_mb": py_rss,
        }
        result.update(
            setups=setups,
            session_s=session_s,
            pass_walls=pass_walls,
            tail={"percentile": tail[0], "n": tail[2]} if tail else None,
            failed_frac=failed / max(1, len(execs)),
            checks=checks,
            end_to_end=e2e,
            entries=entry_summary(execs),
        )
        if trace:
            layers = trace_layers(execs, run_dir, app_id, geo["cores"], session_s)
            probe = trainer_probe(harness, get_spark, conf, run_dir)
            layers.update(probe.pop("metrics"))
            result["trainer_probe"] = probe
            layers["trace.wall_s"] = e2e["wall_s"]
            result["per_layer"] = layers
            if not probe["ok"]:
                failed += 1
            metrics = {k: layers[k] for k in per_layer_names()}
        else:
            metrics = {k: e2e[k] for k in end_to_end_names()}
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(geo["local_dir"], ignore_errors=True)
        shutil.rmtree(geo["tmp_dir"], ignore_errors=True)
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
            for s in harness.spans:
                fh.write(json.dumps(s) + "\n")

    result_path = os.path.join(run_dir, "result.json")
    with open(result_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    host = result["host"]
    print(f"# result: {os.path.relpath(result_path, ROOT)}")
    print("# host: " + json.dumps({k: host[k] for k in (
        "cores", "heap_mb", "spark_local_dir", "spark_version", "java_version")}))
    print(f"# failed_frac: {result['failed_frac']} ({failed}/{len(execs)}); tail: "
          + json.dumps(result["tail"]))
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {UNITS[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(execs) + (1 if trace else 0),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def end_to_end_names() -> list[str]:
    return [m["name"] for m in BENCH["end_to_end"]]


def per_layer_names() -> list[str]:
    return [m["name"] for m in BENCH["per_layer"]]


def entry_summary(execs) -> dict:
    out = {}
    for name in sorted({r["entry"] for r in execs}):
        rs = [r for r in execs if r["entry"] == name and r["ok"]]
        out[name] = {
            "executions": len([r for r in execs if r["entry"] == name]),
            "build_s": median(r["build"][1] - r["build"][0] for r in rs),
            "action_s": median(r["action"][1] - r["action"][0] for r in rs),
            "build_jobs": median(r["build_jobs"] for r in rs),
            "action_jobs": median(r["action_jobs"] for r in rs),
        }
    return out


# ------------------------------------------------------------- tracing


def exec_layers(log_, rec) -> dict:
    """Layer metrics of one entry execution, from the event log."""
    from eventlog import job_gap_seconds, plan_seconds

    b = log_.span(rec["tag"] + ":build")
    a = log_.span(rec["tag"] + ":action")
    jobs = b["job_intervals"] + a["job_intervals"]
    build_s = rec["build"][1] - rec["build"][0]
    action_s = rec["action"][1] - rec["action"][0]
    m = {
        "operators.build_s": build_s,
        "operators.action_s": action_s,
        "operators.build_jobs": b["jobs"],
        "catalyst.plan_s": plan_seconds(rec["action"], a["job_intervals"]),
        "executor.jobs": b["jobs"] + a["jobs"],
        "executor.stages": b["stages"] + a["stages"],
        "executor.job_gap_s": job_gap_seconds(jobs),
        "executor.busy_s": covered(jobs),
        "python_workers.stages": b["python_stages"] + a["python_stages"],
    }
    for key, name in (
        ("tasks", "executor.tasks"), ("run_s", "executor.run_s"),
        ("cpu_s", "executor.cpu_s"), ("gc_s", "executor.gc_s"),
        ("shuffle_write_mb", "shuffle.write_mb"), ("shuffle_read_mb", "shuffle.read_mb"),
        ("shuffle_write_s", "shuffle.write_s"), ("fetch_wait_s", "shuffle.fetch_wait_s"),
        ("spill_mb", "shuffle.spill_mb"), ("scan_mb", "sources.scan_mb"),
        ("scan_rows", "sources.scan_rows"), ("write_mb", "sources.write_mb"),
        ("write_rows", "sources.write_rows"), ("write_files", "sources.write_files"),
        ("write_s", "sources.write_s"), ("py_run_s", "python_workers.run_s"),
        ("py_sent_mb", "python_workers.sent_mb"),
        ("py_returned_mb", "python_workers.returned_mb"),
    ):
        m[name] = b[key] + a[key]
    for k in ("exchanges", "bnl_joins", "cached_scans", "python_nodes"):
        m[f"catalyst.{k}"] = a["census"][k]
    m["census"] = a["census"]
    return m


def trace_layers(execs, run_dir, app_id, cores, session_s) -> dict:
    from eventlog import AppLog, event_log_path

    log_ = AppLog.read(event_log_path(os.path.join(run_dir, "eventlog"), app_id))
    per_exec = [(r, exec_layers(log_, r)) for r in execs if r["ok"]]
    keys = [k for k in per_exec[0][1] if k != "census"] if per_exec else []
    per_pass = []
    for p in sorted({r["pass"] for r, _ in per_exec}):
        ms = [m for r, m in per_exec if r["pass"] == p]
        tot = {k: sum(m[k] for m in ms) for k in keys}
        span_s = tot["operators.build_s"] + tot["operators.action_s"]
        tot["operators.build_share"] = tot["operators.build_s"] / span_s if span_s else 0.0
        busy = tot["executor.busy_s"] * cores
        tot["executor.cpu_util"] = tot["executor.cpu_s"] / busy if busy else 0.0
        per_pass.append(tot)
    layers = {k: median(t[k] for t in per_pass) for k in per_pass[0]} if per_pass else {}
    layers["session.start_s"] = session_s[0]
    layers["session.restart_s"] = median(session_s[1:])
    entries = {}
    for name in sorted({r["entry"] for r, _ in per_exec}):
        ms = [m for r, m in per_exec if r["entry"] == name]
        entries[name] = {k: median(m[k] for m in ms) for k in keys}
        entries[name]["census"] = ms[-1]["census"]
    with open(os.path.join(run_dir, "layers.json"), "w") as fh:
        json.dump({"workload": layers, "entries": entries}, fh, indent=1, sort_keys=True)
    with open(os.path.join(run_dir, "census.json"), "w") as fh:
        json.dump({n: e["census"] for n, e in entries.items()}, fh, indent=1,
                  sort_keys=True)
    return layers


def trainer_probe(harness, get_spark, conf, run_dir) -> dict:
    """One memo-cold fit of the trainer in a fresh, traced application.

    The trainer's registered oracle pins literals for one fixed data
    set, so the fit is checked against the repo's serial numpy twin of
    the same trainer instead, which must match it bit for bit.
    """
    from backend_model_spark.ml.train_distributed import (
        TRAIN_EPOCHS,
        train_serial,
        weight_checksum,
    )
    from eventlog import AppLog, event_log_path

    spark = get_spark("perfbench-trainer", extra_conf=conf)
    try:
        rec = harness.execute(spark, TRAINER_PROBE, f"ml:0:{TRAINER_PROBE}", None)
        got = None
        if rec["ok"]:
            # same application after timing: the fit memo hits, no second fit
            got = harness.queries[TRAINER_PROBE](spark, harness.sf_dir).first().asDict()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    wts, losses = train_serial(harness.sf_dir)
    want = {
        "epochs": TRAIN_EPOCHS,
        "loss_monotone": all(b < a for a, b in zip(losses, losses[1:])),
        "beats_mean": losses[-1] < 1.0,
        "loss_first_q": math.floor(losses[0] * 1e6 + 0.5),
        "loss_final_q": math.floor(losses[-1] * 1e6 + 0.5),
        "weight_checksum": weight_checksum(wts),
    }
    ok = got is not None and all(got[k] == v for k, v in want.items())
    out = {"entry": TRAINER_PROBE, "ok": ok, "got": got, "serial_twin": want}
    metrics = {"ml.jobs_per_fit": 0.0, "ml.job_p50_s": 0.0, "ml.fit_s": 0.0}
    if rec["ok"]:
        log_ = AppLog.read(event_log_path(os.path.join(run_dir, "eventlog"), app_id))
        jobs = (log_.span(rec["tag"] + ":build")["job_intervals"]
                + log_.span(rec["tag"] + ":action")["job_intervals"])
        metrics = {
            "ml.jobs_per_fit": float(len(jobs)),
            "ml.job_p50_s": median(b - a for a, b in jobs),
            "ml.fit_s": rec["action"][1] - rec["build"][0],
        }
    out["metrics"] = metrics
    return out


# ------------------------------------------------------------- all


def run_all(args) -> int:
    """Every workload, untraced then traced, in child processes."""
    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    ok = True
    for name in WORKLOADS:
        entry = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                log(proc.stderr[-3000:])
                return proc.returncode or 1
            last = json.loads(lines[-1])
            path = os.path.join(ROOT, next(l for l in lines if l.startswith("# result: "))[10:])
            side = {"summary": last, "detail": json.load(open(path))}
            if trace:
                # per-entry layers and the plan census, diffable as JSON
                side["layers"] = json.load(open(os.path.join(os.path.dirname(path),
                                                             "layers.json")))
            ok &= last["correct"]
            entry["traced" if trace else "untraced"] = side
        untraced = entry["untraced"]["summary"]["metrics"]
        traced = entry["traced"]["summary"]["metrics"]
        entry["trace_overhead_s"] = traced["trace.wall_s"]["value"] - untraced["wall_s"]["value"]
        report["workloads"][name] = entry
        print(f"== {name}  correct={entry['untraced']['summary']['correct']} "
              f"failed_frac={entry['untraced']['detail']['failed_frac']}")
        for k, v in untraced.items():
            print(f"  {k:24s} {v['value']:12.4f} {v['unit']}")
        print(f"  {'trace_overhead_s':24s} {entry['trace_overhead_s']:12.4f} s")
        for k, v in traced.items():
            print(f"  {k:32s} {v['value']:12.4f} {v['unit']}")
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="backend_model_spark benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="with --workload all: write the report here")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "backend_model_spark", "__init__.py")):
        log("perfbench: backend_model_spark/ not found next to perfbench/")
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
