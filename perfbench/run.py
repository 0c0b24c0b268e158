#!/usr/bin/env python3
"""perfbench — end-to-end and per-layer benchmark of sdg_engine.

    python3 perfbench/run.py --workload rai_points --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload session_mix --seed 1 --seconds 30 --trace 1

Run from the root of a source tree.  One run = one process, one Spark
session at local[nproc], one driver thread issuing iterations in a
closed loop, and a /proc memory sampler.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns on the Spark event log, job-tags every
phase and prints the per-layer metrics.  The last stdout line is the
JSON result; everything above it is a human-readable report.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import measure as M  # stdlib only; workloads needs sdg_engine on the path

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MIN_TIMED = 11  # so the tail has 10 samples beyond it
MB = float(1 << 20)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it."""
    s = sorted(samples)
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def _git_head() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "not a git checkout"


class Phases:
    """Wall times of one iteration's build / plan / exec phases."""

    def __init__(self, t0, t_build, t_plan, t_exec):
        self.t0, self.t_build, self.t_plan, self.t_exec = t0, t_build, t_plan, t_exec

    @property
    def total(self) -> float:
        return self.t_exec - self.t0


def run_iteration(spark, wl_name: str, idx: int, item, traced: bool):
    """Build the item's DataFrame and collect it.  Plan time is forced
    separately only when traced (it would otherwise be planned twice)."""
    sc = spark.sparkContext
    t0 = time.time()
    if traced:
        sc.setJobGroup(f"{wl_name}:{idx}:build", item.name)
    df = item.build(spark)
    t_build = time.time()
    if traced:
        sc.setJobGroup(f"{wl_name}:{idx}:plan", item.name)
        df._jdf.queryExecution().executedPlan()
    t_plan = time.time()
    if traced:
        sc.setJobGroup(f"{wl_name}:{idx}:exec", item.name)
    pdf = df.toPandas()
    t_exec = time.time()
    return df, pdf, Phases(t0, t_build, t_plan, t_exec)


class Tracer:
    """Everything the traced run records beside the timings."""

    def __init__(self, spark, wl_name: str, log_dir: str):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.wl = wl_name
        self.log_dir = log_dir
        self.spans = M.Spans()
        self.iters: list[dict] = []
        batches = self.batches = []

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(event.progress.durationMs.get("triggerExecution", 0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())
        app = spark.sparkContext.applicationId
        uid = os.getuid()
        self.store_roots = [os.path.join(base, f"sdg_stream_u{uid}", app)
                            for base in {tempfile.gettempdir(), "/dev/shm"}]

    def confs(self) -> dict:
        return {r[0]: r[1] for r in self.spark.sql("SET").collect()}

    def store_usage(self) -> tuple[int, int]:
        b = f = 0
        for root in self.store_roots:
            nb, nf = M.tree_usage(root)
            b, f = b + nb, f + nf
        return b, f

    def before(self) -> dict:
        return {"confs": self.confs(), "store": self.store_usage(),
                "batches": len(self.batches)}

    def after(self, idx: int, item, df, pdf, ph: Phases, pre: dict, mem) -> None:
        sid = self.spans.add("iter", ph.t0, ph.t_exec, idx, item=item.name)
        self.spans.add("build", ph.t0, ph.t_build, idx, sid)
        self.spans.add("plan", ph.t_build, ph.t_plan, idx, sid)
        self.spans.add("exec", ph.t_plan, ph.t_exec, idx, sid)
        rec = {"idx": idx, "item": item.name, "family": item.family, "span": sid,
               "total": ph.total}
        if df is not None:
            nodes = M.plan_nodes(df._jdf.queryExecution().executedPlan())
            rec.update(plan=M.plan_shape(nodes), py=M.python_io(nodes))
        if item.flagship and pdf is not None:
            n = float(pdf["n_points"].sum())
            rec["near_frac"] = float(pdf["n_near"].sum()) / n
            rec["raycast_frac"] = rec["py"]["pip_rows"] / n
        post = self.confs()
        rec["conf_drift"] = sum(pre["confs"].get(k) != v for k, v in post.items()) + sum(
            k not in post for k in pre["confs"])
        nb, nf = self.store_usage()
        rec["store_bytes"] = nb - pre["store"][0]
        rec["store_files"] = nf - pre["store"][1]
        rec["batches"] = len(self.batches) - pre["batches"]
        rec["held_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        rec["mem"] = mem.sample()
        self.iters.append(rec)

    def layer_metrics(self, warm: list[dict], extras: dict, first_mem: int,
                      start_s: float, first_iter_s: float, peak_mb: float,
                      warm_times: list[float]) -> tuple[dict, dict]:
        """Roll the event log up per job group and reduce every layer to
        one number (medians over warm iterations unless stated).  Also
        returns a per-family roll-up of the warm iterations."""
        groups = M.read_event_log(self.log_dir)
        spans = self.spans.spans

        def grp(rec, phase):
            return groups.get(f"{self.wl}:{rec['idx']}:{phase}", {})

        def gap(rec, phase):
            sp = next(s for s in spans if s["parent"] == rec["span"] and s["name"] == phase)
            ivals = grp(rec, phase).get("intervals", [])
            return (sp["end"] - sp["start"]) - M.covered(ivals, sp["start"], sp["end"])

        def self_s(rec, phase):
            sp = next(s for s in spans if s["parent"] == rec["span"] and s["name"] == phase)
            return self.spans.self_time(sp["id"])

        def med(values):
            values = list(values)
            return float(statistics.median(values)) if values else 0.0

        def mean(values):
            values = list(values)
            return float(statistics.fmean(values)) if values else 0.0

        def g(phase, key, scale=1.0):
            return med(grp(r, phase).get(key, 0) / scale for r in warm)

        flag = [r for r in self.iters if "near_frac" in r]
        lake = [r for r in warm if r["family"] == "lakehouse"]
        stream = [r for r in warm if r["family"] == "streaming"]
        last = self.iters[-1]
        m = {
            "session.start_s": start_s,
            "session.first_iter_s": first_iter_s,
            "session.peak_rss_mb": peak_mb,
            "session.held_rdds": last["held_rdds"],
            "session.conf_drift": max(r["conf_drift"] for r in self.iters),
            "session.rss_growth_mb": (last["mem"] - first_mem) / MB,
            "build.s": med(self_s(r, "build") for r in warm),
            "build.jobs": g("build", "jobs"),
            "build.stages": g("build", "stages"),
            "build.sched_gap_s": med(gap(r, "build") for r in warm),
            "plan.s": med(self_s(r, "plan") for r in warm),
            "plan.nodes": med(r["plan"]["nodes"] for r in warm if "plan" in r),
            "plan.exchanges": med(r["plan"]["exchanges"] for r in warm if "plan" in r),
            "plan.python_nodes": med(r["plan"]["python_nodes"] for r in warm if "plan" in r),
            "exec.s": med(self_s(r, "exec") for r in warm),
            "exec.stages": g("exec", "stages"),
            "exec.tasks": g("exec", "tasks"),
            "exec.task_run_s": g("exec", "run_s"),
            "exec.task_cpu_s": g("exec", "cpu_s"),
            "exec.shuffle_read_mb": g("exec", "shuffle_read", MB),
            "exec.shuffle_write_mb": g("exec", "shuffle_write", MB),
            "exec.sched_gap_s": med(gap(r, "exec") for r in warm),
            "exec.gc_s": g("exec", "gc_s"),
            "exec.spill_mb": g("exec", "spill", MB),
            "spatial.cand_per_point": extras.get("cand_per_point", 0.0),
            "spatial.near_frac": med(r["near_frac"] for r in flag),
            "spatial.raycast_frac": med(r["raycast_frac"] for r in flag),
            # means: in session_mix only rai_tiles crosses the boundary
            "udf.rows_to_python": mean(r["py"]["rows"] for r in warm if "py" in r),
            "udf.mb_to_python": mean(r["py"]["bytes_to"] / MB for r in warm if "py" in r),
            "udf.mb_from_python": mean(r["py"]["bytes_from"] / MB for r in warm if "py" in r),
            "raster.ms_per_tile": extras.get("raster_ms_per_tile", 0.0),
            "payload.decode_ms_per_tile": extras.get("decode_ms_per_tile", 0.0),
            "storage.mb_written": med(max(0, r["store_bytes"]) / MB for r in lake),
            "storage.files_written": med(max(0, r["store_files"]) for r in lake),
            "streaming.batches": med(r["batches"] for r in stream),
            "streaming.batch_ms.p50": med(self.batches),
            "trace.iter_s.p50": med(warm_times),
        }
        families: dict[str, dict] = {}
        for r in warm:
            f = families.setdefault(r["family"], {"n": 0, "iter": 0.0, "build": 0.0,
                                                  "exec": 0.0, "build_jobs": 0,
                                                  "build_stages": 0})
            f["n"] += 1
            f["iter"] += r["total"]
            f["build"] += self_s(r, "build")
            f["exec"] += self_s(r, "exec")
            f["build_jobs"] += grp(r, "build").get("jobs", 0)
            f["build_stages"] += grp(r, "build").get("stages", 0)
        return m, families


# per-layer metric → unit, in report order (the traced run's output)
LAYER_UNITS = {
    "session.start_s": "s", "session.first_iter_s": "s", "session.peak_rss_mb": "MB",
    "session.held_rdds": "count", "session.conf_drift": "count",
    "session.rss_growth_mb": "MB",
    "build.s": "s", "build.jobs": "count", "build.stages": "count",
    "build.sched_gap_s": "s",
    "plan.s": "s", "plan.nodes": "count", "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "exec.s": "s", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.sched_gap_s": "s", "exec.gc_s": "s",
    "exec.spill_mb": "MB",
    "spatial.cand_per_point": "count", "spatial.near_frac": "ratio",
    "spatial.raycast_frac": "ratio",
    "udf.rows_to_python": "count", "udf.mb_to_python": "MB",
    "udf.mb_from_python": "MB",
    "raster.ms_per_tile": "ms", "payload.decode_ms_per_tile": "ms",
    "storage.mb_written": "MB", "storage.files_written": "count",
    "streaming.batches": "count", "streaming.batch_ms.p50": "ms",
    "trace.iter_s.p50": "s",
}


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM (it exits when its stdin pipe closes) and
    wait until every process this run started has exited."""
    me = os.getpid()
    started = [p for p in M.descendants(me) if p != me]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    while True:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def main(argv=None) -> int:
    t_proc = M.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sdg_engine", "__init__.py")):
        print(f"perfbench: no sdg_engine package under {ROOT}; run from a source tree",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    local_dir = os.path.join(WORK, "spark-local")
    shutil.rmtree(local_dir, ignore_errors=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    log_dir = os.path.join(WORK, "eventlog")
    if traced:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    # cold start: the cross-process dims cache published by ops.spatial
    shutil.rmtree(os.path.join(tempfile.gettempdir(), f"sdg_dims_u{os.getuid()}"),
                  ignore_errors=True)
    load_start = os.getloadavg()

    with M.MemSampler() as mem:
        import pyspark

        import sdg_engine
        from sdg_engine.jobs import rai
        from sdg_engine.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        # a Python-worker job, so the worker daemon is up too
        spark.sparkContext.parallelize(range(nproc), nproc).map(lambda x: x).count()
        start_s = time.time() - t_proc

        # jobs.rai.fixture_dir defaults to one absolute source-tree path;
        # keep this tree's fixtures inside this tree
        rai.fixture_dir.__defaults__ = (os.path.join(WORK, "fixture_cache"),)
        t_prep = time.time()
        wl = WORKLOADS[args.workload](spark, WORK, args.seed)
        prep_s = time.time() - t_prep
        opener, cycle = wl.items()
        tracer = Tracer(spark, wl.name, log_dir) if traced else None

        # iterations 0 .. n_untimed-1 are the cold opener and the
        # workload's warm-up; the rest are timed
        n_untimed = 1 + wl.warmup
        times: list[float] = []
        results: list[tuple[str, bool, str]] = []
        n_items: list[int] = []
        first_mem = 0
        t_timed = None
        idx = 0
        queue = [opener]
        while True:
            if idx == n_untimed:
                t_timed = time.time()
            if not queue:
                if (t_timed is not None and time.time() - t_timed >= args.seconds
                        and idx - n_untimed >= MIN_TIMED):
                    break
                queue = list(cycle)
            item = queue.pop(0)
            pre = tracer.before() if tracer else None
            df = pdf = None
            t0 = time.time()
            try:
                df, pdf, ph = run_iteration(spark, wl.name, idx, item, traced)
                ok, msg = item.check(pdf)
            except Exception as e:  # one failed iteration must not end the run
                ph = Phases(t0, time.time(), time.time(), time.time())
                ok, msg = False, f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            times.append(ph.total)
            n_items.append(item.n_items)
            results.append((item.name, ok, msg))
            if tracer:
                tracer.after(idx, item, df, pdf if ok else None, ph, pre, mem)
            if idx == 0:
                first_mem = mem.sample()
            idx += 1

        extras = {}
        if tracer:
            if hasattr(wl, "spatial_probe"):
                p = wl.spatial_probe(spark)
                extras["cand_per_point"] = p["cand_pairs"] / p["points"]
            if hasattr(wl, "kernel_probe"):
                extras.update(wl.kernel_probe())
        context = {
            "workload": wl.name, "item": wl.item, "seed": args.seed, "nproc": nproc,
            "master": spark.sparkContext.master, "git_head": _git_head(),
            "sdg_engine": sdg_engine.__file__, "spark": pyspark.__version__,
            "python": sys.version.split()[0], "input": wl.context(),
            "prep_s": prep_s,
        }
        stop_session(spark)
    context["loadavg_start"] = load_start
    context["loadavg_end"] = os.getloadavg()

    warm = times[n_untimed:]
    failed = sum(not ok for _n, ok, _m in results)
    tail_v, tail_p = tail(warm)
    # set-up is everything the program does before the timed loop: session
    # start, the cold first iteration and the warm-up iterations (the
    # benchmark's own input generation and reference are left out)
    setup_s = start_s + sum(times[:n_untimed])
    context["session_start_s"] = start_s
    context["first_iter_s"] = times[0]
    context["warmup_iter_s"] = [round(t, 3) for t in times[1:n_untimed]]
    context["iter_s_tail_percentile"] = round(tail_p, 1)
    context["warm_samples"] = len(warm)
    context["warm_iter_s"] = [round(t, 3) for t in warm]
    context["fail_frac"] = failed / len(results)
    e2e = {
        "setup_s": (setup_s, "s"),
        "iter_s.p50": (statistics.median(warm), "s"),
        "iter_s.tail": (tail_v, "s"),
        "items_per_s": (sum(n_items[n_untimed:]) / sum(warm), "1/s"),
    }
    context["peak_rss_mb"] = mem.peak_mb
    untraced_file = os.path.join(WORK, f"untraced_{wl.name}_seed{args.seed}.json")
    if tracer:
        warm_recs = tracer.iters[n_untimed:]
        metrics, families = tracer.layer_metrics(warm_recs, extras, first_mem, start_s,
                                                 times[0], mem.peak_mb, warm)
        tracer.spans.write(os.path.join(WORK, f"spans_{wl.name}_seed{args.seed}.json"))
        out = {k: (metrics[k], u) for k, u in LAYER_UNITS.items()}
        if os.path.exists(untraced_file):
            with open(untraced_file) as f:
                base = json.load(f)["iter_s.p50"]
            context["trace_overhead"] = metrics["trace.iter_s.p50"] / base - 1.0
        context["families"] = families
    else:
        out = e2e
        with open(untraced_file, "w") as f:
            json.dump({"iter_s.p50": e2e["iter_s.p50"][0]}, f)

    print(f"perfbench {wl.name} ({'traced' if traced else 'untraced'})")
    for k, v in context.items():
        print(f"  {k}: {json.dumps(v)}")
    per_item: dict[str, list[float]] = {}
    for (name, _ok, _msg), t in zip(results, times):
        per_item.setdefault(name, []).append(t)
    for name, ts in sorted(per_item.items(), key=lambda kv: -sum(kv[1])):
        print(f"  iter {name}: n={len(ts)} median={statistics.median(ts):.3f}s")
    for name, ok, msg in results:
        if not ok:
            print(f"  FAILED {name}: {msg[:300]}")
    width = max(map(len, out))
    for k, (v, unit) in out.items():
        print(f"  {k:<{width}}  {v:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
