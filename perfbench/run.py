"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload topic_io --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed (``perfbench/gen.py``), starts the session with
``kafi_spark.session.get_spark`` fitted to the host, runs one discarded
warm-up pass, then runs complete passes over the input for ``--seconds``
seconds and at least the workload's minimum (one batch pass, three
epochs), checking every pass against the generator's ground truth.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the traced
run: untraced passes and the same passes with spans around every public
call, in turn, then the single-threaded (``local[1]``) baseline, and
prints the per-layer metrics. The last stdout line is the result object; the
line before it is the full report. Everything is written under
``.perfbench/`` in the checkout and removed at exit, except the span
file of a traced run (``.perfbench/trace-<workload>-<seed>.jsonl``).
Exit status: 0 when every check passed, 1 when a check or call failed,
2 when the checkout holds no program to run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: share of physical memory given to the driver JVM
DRIVER_MEM_SHARE = 0.25

#: layers the traced run reports, by module name; ``session`` is reported
#: through its set-up extras only
LAYERS = ["sources.fs_topic", "sources.avro", "shell", "addons",
          "functions.spans", "functions.contamination", "functions.text",
          "functions.dedup", "functions.pipeline", "streaming.stateful",
          "streaming.incremental", "streaming.epoch"]
LAYER_METRICS = [("self_s", "s"), ("busy_s", "s"), ("calls", "count"),
                 ("task_cpu_s", "s"), ("task_wait_s", "s"),
                 ("shuffle_write_bytes", "bytes")]
#: per-layer extras: (name, unit, better)
EXTRAS = [
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("sources.fs_topic.produce.files_written", "count", "lower"),
    ("sources.fs_topic.produce.bytes_written", "bytes", "lower"),
    ("sources.fs_topic.consume.rows", "count", "higher"),
    ("sources.avro.encode.rows", "count", "higher"),
    ("sources.avro.decode.rows", "count", "higher"),
    ("sources.avro.encode.bytes", "bytes", "lower"),
    ("shell.grep.busy_s", "s", "lower"),
    ("shell.wc.busy_s", "s", "lower"),
    ("addons.compact.busy_s", "s", "lower"),
    ("addons.message_size_stats.busy_s", "s", "lower"),
    ("addons.compact.keys_out_ratio", "ratio", "lower"),
    ("functions.spans.span_dedup.spans_removed", "count", "higher"),
    ("functions.contamination.decontaminate.docs_dropped", "count", "higher"),
    ("functions.text.text_stats.busy_s", "s", "lower"),
    ("functions.dedup.minhash_lsh_pairs.candidate_pairs", "count", "lower"),
    ("functions.dedup.minhash_lsh_pairs.verified_pairs", "count", "higher"),
    ("functions.dedup.minhash_lsh_pairs.verify_yield", "ratio", "higher"),
    ("functions.pipeline.curate_documents_extended.construct_s", "s", "lower"),
    ("functions.pipeline.curate_documents_extended.action_s", "s", "lower"),
    ("streaming.stateful.span_dedup_stream.self_s_per_epoch", "s", "lower"),
    ("streaming.stateful.state_bytes", "bytes", "lower"),
    ("streaming.stateful.state_delta_dirs", "count", "lower"),
    ("streaming.stateful.state_bytes_per_epoch", "bytes", "lower"),
    ("streaming.incremental.IncrementalRunner.step_s_per_epoch", "s", "lower"),
    ("streaming.incremental.state_rows", "count", "lower"),
    ("streaming.epoch.latestOffset_ms", "ms", "lower"),
    ("streaming.epoch.queryPlanning_ms", "ms", "lower"),
    ("streaming.epoch.getBatch_ms", "ms", "lower"),
    ("streaming.epoch.addBatch_ms", "ms", "lower"),
    ("streaming.epoch.walCommit_ms", "ms", "lower"),
    ("streaming.epoch.commitOffsets_ms", "ms", "lower"),
    ("streaming.epoch.input_rows", "count", "lower"),
    ("perfbench.self_s", "s", "lower"),
    ("traced.wall_s", "s", "lower"),
    ("untraced.wall_s", "s", "lower"),
    ("tracing_overhead", "ratio", "lower"),
    ("self_coverage", "ratio", "higher"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.tasks", "count", "lower"),
    ("nproc.wall_s", "s", "lower"),
    ("nproc.cpu_s", "s", "lower"),
    ("single_thread.wall_s", "s", "lower"),
    ("single_thread.cpu_s", "s", "lower"),
    ("parallel_speedup", "ratio", "higher"),
]
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s")]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    return [(f"{L}.{m}", u, "lower")
            for L in LAYERS for m, u in LAYER_METRICS] + EXTRAS


# -- host ---------------------------------------------------------------------

def _meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.machine()


def fit_host(work: str, cpus: int) -> dict:
    """Size the session to this host (the session's own defaults are
    local[32] and a 48g driver) and keep every scratch file inside
    ``work``. Must run before the JVM starts."""
    mem_mb = _meminfo_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "KAFI_SPARK_DRIVER_MEM": f"{int(mem_mb * DRIVER_MEM_SHARE)}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return {"nproc": cpus, "mem_total_mb": mem_mb, "cpu_model": _cpu_model(),
            "kernel": platform.release(), "python": platform.python_version(),
            "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                        "KAFI_SPARK_DRIVER_MEM")}}


# -- statistics ---------------------------------------------------------------

def _pct(values: list[float], p: float) -> float:
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summary(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (none below 20 samples), with the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(values) * (1 - p / 100) >= 10:
            out["tail_pct"] = p
            out["tail"] = _pct(values, p)
            break
    return out


# -- run ----------------------------------------------------------------------

class Run:
    def __init__(self, a, work: str, data: str, truth: dict):
        from perfbench.trace import Tracer

        self.a = a
        self.work = work
        self.data = data
        self.truth = truth
        self.tr = Tracer(f"{a.workload}-{a.seed}-{os.getpid()}",
                         enabled=bool(a.trace))
        self.errors: list[str] = []
        self.spark = None
        self.index = 0

    def session(self, cpus: int):
        from kafi_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        t = time.perf_counter()
        with self.tr.span("session.get_spark", "session"):
            self.spark = get_spark("perfbench")
        return time.perf_counter() - t

    def workload(self, tag: str, split: bool = False):
        from perfbench.workloads import WORKLOADS

        wl = WORKLOADS[self.a.workload](
            self.spark, self.data, self.truth, os.path.join(self.work, tag),
            self.tr)
        wl.split = split
        return wl

    def one_pass(self, wl) -> dict | None:
        from perfbench.procstat import CpuClock

        i, self.index = self.index, self.index + 1
        wl.prepare(i)
        try:
            with CpuClock() as c:
                wl.run_pass(i)
            wl.after(i)
        except Exception as e:  # noqa: BLE001 - a failed call or check
            # is counted and reported, and ends the timed loop
            self.errors.append(f"pass {i}: {type(e).__name__}: {e}")
            return None
        return {**wl.figures(), "wall_s": c.wall_s, "cpu_s": c.cpu_s}

    def loop(self, wl, seconds: float, min_passes: int) -> list[dict]:
        """Passes for ``seconds`` and at least ``min_passes``."""
        out: list[dict] = []
        start = time.perf_counter()
        while (len(out) < min_passes
               or time.perf_counter() - start < seconds) \
                and not wl.exhausted():
            figs = self.one_pass(wl)
            if figs is None:
                break
            out.append(figs)
        return out

    def alternate(self, wl, seconds: float) -> tuple[list[dict], list[dict]]:
        """Untraced and traced passes in pairs, each pair in the other
        order from the last, so both kinds see the same JIT and host state;
        their walls give the tracing overhead. Only traced passes make the
        standalone stage split. Spans of the traced passes are marked
        ``traced`` and get their stages."""
        runs: dict[bool, list[dict]] = {False: [], True: []}
        self.tr.attach_stages(self.spark)  # set-up stages to set-up spans
        start = time.perf_counter()
        order = (False, True)
        while (len(runs[True]) < wl.min_passes
               or time.perf_counter() - start < seconds) \
                and not wl.exhausted():
            for traced in order:
                self.tr.enabled = wl.split = traced
                first = len(self.tr.spans)
                figs = self.one_pass(wl)
                self.tr.enabled = False
                if figs is None:
                    return runs[False], runs[True]
                runs[traced].append(figs)
                if traced:
                    for s in self.tr.spans[first:]:
                        s["traced"] = True
                    self.tr.attach_stages(self.spark, first)
                if wl.exhausted():
                    break
            order = order[::-1]
        return runs[False], runs[True]

    def warm_up(self, wl) -> float:
        """Program set-up plus the discarded warm-up passes."""
        t = time.perf_counter()
        with self.tr.span("session.warmup", "session"):
            wl.start()
            for _ in range(wl.warmup_passes):
                if self.one_pass(wl) is None:
                    break
        return time.perf_counter() - t

    def cross_check(self, wl) -> None:
        try:
            wl.cross_check()
        except Exception as e:  # noqa: BLE001 - counted like a pass failure
            self.errors.append(f"cross check: {type(e).__name__}: {e}")


def e2e_metrics(passes: list[dict], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }


def workload_report(wl, passes: list[dict]) -> dict:
    """The per-workload figures of the report line, with sample counts."""
    med = statistics.median
    rep = {"wall_s": summary([p["wall_s"] for p in passes]),
           "cpu_s": summary([p["cpu_s"] for p in passes]),
           "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
           "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
           "call_s": {k: med(p["times"].get(k, 0.0) for p in passes)
                      for k in passes[0]["times"]}}
    for k in ("write_msgs_per_s", "read_msgs_per_s", "docs_per_s",
              "topic_io_wall_s", "curate_batch_wall_s"):
        if k in passes[0]:
            rep[k] = med(p[k] for p in passes)
    if wl.name == "stream_epochs":
        rep["docs_per_s"] = med(wl.items / p["wall_s"] for p in passes)
        prog = wl.progress()
        ms = [prog[p["batch_id"]]["triggerExecution"] for p in passes
              if p["batch_id"] in prog]
        ep = summary(ms)
        rep.update(epoch_n=ep["n"], epoch_p50_ms=ep["p50"],
                   epoch_tail_pct=ep.get("tail_pct"),
                   epoch_tail_ms=ep.get("tail"))
        q = len(ms) // 4
        if q:
            rep["epoch_cost_growth"] = (statistics.mean(ms[-q:])
                                        / statistics.mean(ms[q:2 * q]))
    return rep


def layer_metrics(run: Run, wl, traced: list[dict], untraced: list[dict],
                  single: list[dict], setup: dict) -> dict:
    from perfbench.trace import layer_totals

    n = len(traced)
    spans = [s for s in run.tr.spans if s.get("traced")]
    tot = layer_totals(spans)
    m: dict[str, float] = {}
    for L in LAYERS:
        t = tot.get(L, {})
        for k, _ in LAYER_METRICS:
            m[f"{L}.{k}"] = t.get(k, 0) / n

    def per_pass(key: str, default=0.0) -> float:
        return statistics.mean(p.get(key, default) for p in traced)

    def busy(name: str) -> float:
        return statistics.mean(p["times"].get(name, 0.0) for p in traced)

    phases = dict.fromkeys(("latestOffset", "queryPlanning", "getBatch",
                            "addBatch", "walCommit", "commitOffsets",
                            "input_rows"), 0.0)
    if wl.name == "stream_epochs":
        prog = wl.progress()
        for k in phases:
            phases[k] = statistics.mean(prog[p["batch_id"]].get(k, 0)
                                        for p in traced)
    cand = per_pass("candidate_pairs")
    # the standalone split is not part of an untraced pass
    traced_wall = statistics.median(p["wall_s"] - p.get("split_s", 0.0)
                                    for p in traced)
    untraced_wall = statistics.median(p["wall_s"] for p in untraced)
    harness = tot.get("perfbench", {}).get("self_s", 0.0)
    wall_sum = sum(p["wall_s"] for p in traced)
    consumes = [s for s in spans if s["name"] == "sources.fs_topic.consume"]
    m.update({
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.fs_topic.produce.files_written": per_pass("produce_files_written"),
        "sources.fs_topic.produce.bytes_written": per_pass("produce_bytes_written"),
        "sources.fs_topic.consume.rows":
            sum(s["attrs"].get("rows_out", 0) for s in consumes) / n,
        "sources.avro.encode.rows": sum(
            s["attrs"].get("rows_out", 0) for s in spans
            if s["name"] == "sources.avro.to_avro_df") / n,
        "sources.avro.decode.rows": sum(
            s["attrs"].get("rows_in", 0) for s in spans
            if s["name"] == "sources.avro.from_avro_df") / n,
        "sources.avro.encode.bytes": per_pass("encode_bytes"),
        "shell.grep.busy_s": busy("shell.grep"),
        "shell.wc.busy_s": busy("shell.wc"),
        "addons.compact.busy_s": busy("addons.compact"),
        "addons.message_size_stats.busy_s": busy("addons.message_size_stats"),
        "addons.compact.keys_out_ratio": per_pass("compact_keys_out_ratio"),
        "functions.spans.span_dedup.spans_removed": per_pass("spans_removed"),
        "functions.contamination.decontaminate.docs_dropped":
            per_pass("docs_dropped"),
        "functions.text.text_stats.busy_s": busy("functions.text.text_stats"),
        "functions.dedup.minhash_lsh_pairs.candidate_pairs": cand,
        "functions.dedup.minhash_lsh_pairs.verified_pairs":
            per_pass("verified_pairs"),
        "functions.dedup.minhash_lsh_pairs.verify_yield":
            per_pass("verified_pairs") / cand if cand else 0.0,
        "functions.pipeline.curate_documents_extended.construct_s":
            per_pass("construct_s"),
        "functions.pipeline.curate_documents_extended.action_s":
            per_pass("action_s"),
        # a stream pass is one epoch
        "streaming.stateful.span_dedup_stream.self_s_per_epoch":
            m["streaming.stateful.self_s"],
        "streaming.stateful.state_bytes": per_pass("state_bytes"),
        "streaming.stateful.state_delta_dirs": per_pass("state_delta_dirs"),
        "streaming.stateful.state_bytes_per_epoch":
            per_pass("state_bytes_per_epoch"),
        "streaming.incremental.IncrementalRunner.step_s_per_epoch":
            busy("streaming.incremental.IncrementalRunner.step"),
        "streaming.incremental.state_rows": setup.get("state_rows", 0),
        **{f"streaming.epoch.{k}_ms": v for k, v in phases.items()
           if k != "input_rows"},
        "streaming.epoch.input_rows": phases["input_rows"],
        "perfbench.self_s": harness / n,
        "traced.wall_s": traced_wall,
        "untraced.wall_s": untraced_wall,
        "tracing_overhead": traced_wall / untraced_wall - 1.0,
        "self_coverage": 1.0 - harness / wall_sum,
        "spark.spill_bytes": sum(t.get("spill_bytes", 0)
                                 for t in tot.values()) / n,
        "spark.tasks": sum(t.get("tasks", 0) for t in tot.values()) / n,
        "nproc.wall_s": untraced_wall,
        "nproc.cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "single_thread.wall_s": statistics.median(p["wall_s"] for p in single),
        "single_thread.cpu_s": statistics.median(p["cpu_s"] for p in single),
    })
    m["parallel_speedup"] = m["single_thread.wall_s"] / m["nproc.wall_s"]
    return m


def measure(a, work: str, data: str, truth: dict, host: dict) -> dict:
    from perfbench.procstat import RssSampler, host_cpu_ticks

    run = Run(a, work, data, truth)
    report: dict = {"workload": a.workload, "seed": a.seed,
                    "seconds": a.seconds, "trace": a.trace, "host": host}
    wls: list = []
    traced: list[dict] = []
    single: list[dict] = []
    try:
        with RssSampler() as rss:
            get_spark_s = run.session(host["nproc"])
            report["host"].update(
                spark=run.spark.version,
                java=run.spark.sparkContext._jvm.System.getProperty(
                    "java.version"))
            # a traced run warms the standalone split up too
            wl = run.workload("nproc", split=bool(a.trace))
            wls.append(wl)
            warmup_s = run.warm_up(wl)
            setup = report["setup"] = {"get_spark_s": get_spark_s,
                                       "warmup_s": warmup_s}
            steal0 = host_cpu_ticks()
            if not a.trace:
                passes = run.loop(wl, a.seconds, wl.min_passes)
            else:
                passes, traced = run.alternate(wl, a.seconds)
            steal1 = host_cpu_ticks()
            # timings swing with the CPU time the host gives to others
            report["host_steal_share"] = ((steal1[0] - steal0[0])
                                          / max(1, steal1[1] - steal0[1]))
            t = time.perf_counter()
            run.cross_check(wl)
            setup["cross_check_s"] = time.perf_counter() - t
            if a.trace:
                if a.workload == "stream_epochs" and traced:
                    setup["state_rows"] = wl.state_rows()
                wl.close()
                run.spark.stop()
                setup["single_get_spark_s"] = run.session(1)
                wl1 = run.workload("single")
                wls.append(wl1)
                setup["single_warmup_s"] = run.warm_up(wl1)
                single = run.loop(wl1, 0, 1)
                run.cross_check(wl1)
        attempted = max(1, sum(w.attempted for w in wls))
        failed = len(run.errors)
        ok = not failed and bool(passes) and (
            not a.trace or bool(traced and single))
        report["passes"] = len(passes)
        # reported, not gated: the JVM grows its heap when GC timing says
        # so, and the peak swings by a quarter between identical runs
        report["peak_rss_mb"] = rss.peak_bytes / 2 ** 20
        report["errors"] = run.errors
        report["failed_ops_frac"] = failed / attempted
        metrics = {}
        if ok:
            report["workload_metrics"] = workload_report(wl, passes)
            if a.trace:
                metrics = layer_metrics(run, wl, traced, passes, single, setup)
                units = {n: u for n, u, _ in per_layer_spec()}
            else:
                metrics = e2e_metrics(passes, get_spark_s + warmup_s)
                units = dict(END_TO_END)
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in metrics.items()}
        report["metrics"] = metrics
        report["result"] = {"correct": ok, "attempted": attempted,
                            "failed": failed, "metrics": dict(metrics)}
        if a.trace:
            run.tr.write(os.path.join(
                ROOT, ".perfbench", f"trace-{a.workload}-{a.seed}.jsonl"))
        return report
    finally:
        for w in wls:
            try:
                w.close()
            except Exception:  # noqa: BLE001 - the session goes down next
                pass
        stop_session(run.spark)


def stop_session(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    every process this run started has ended."""
    from perfbench.procstat import descendants_alive
    from pyspark import SparkContext

    pids = descendants_alive()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        live = [p for p in pids if _alive(p)]
        if not live:
            return
        time.sleep(0.2)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def declared_metrics(trace: int) -> set[str] | None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> None:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True,
                    choices=["topic_curate", "stream_epochs", "topic_io",
                             "curate_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "kafi_spark", "session.py")):
        print(f"perfbench: no kafi_spark package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        host = fit_host(work, len(os.sched_getaffinity(0)))
        from perfbench.gen import generate

        data = os.path.join(work, "data")
        t = time.perf_counter()
        truth = generate(a.workload, a.seed, data)
        gen_s = time.perf_counter() - t
        report = measure(a, work, data, truth, host)
        report["gen_s"] = gen_s
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = report["result"]
    declared = declared_metrics(a.trace)
    if result["correct"] and declared is not None:
        # the result carries exactly the declared metrics; the report
        # line keeps every figure
        missing = declared - set(result["metrics"])
        if missing:
            print(f"perfbench: metrics not emitted: {sorted(missing)}",
                  file=sys.stderr)
            result["correct"] = False
        result["metrics"] = {k: v for k, v in result["metrics"].items()
                             if k in declared}
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
