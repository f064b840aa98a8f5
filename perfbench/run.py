"""Benchmark of nginx_log_spark's report path.

    python3 perfbench/run.py --workload report_zipf --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1
    python3 -m pytest perfbench -q            # the benchmark's self-tests

Closed loop, one client: each repetition starts when the previous one has
returned. For the workload's input (made by ``gen.py`` from ``--seed`` and
cached under ``.bench_build/perfbench``) it

- pins the environment (``local[<cores>]``, a driver heap sized to the
  host, Spark's local and temp directories inside ``.bench_build``) and
  prints it;
- untraced (``--trace 0``): starts one fresh process, which sets up
  (``setup_s``: process start until ``get_spark`` has returned and one
  untimed run is done), then runs the entry point twice more to warm up
  and repeats it for the rest of ``--seconds``, at least three times;
  the other metrics are medians over those repetitions. Times are net
  of hypervisor steal: each wall is scaled by one minus the share of the
  time the host's CPUs wanted to run that was stolen
  (``meter.stolen_share``), so that ``net_wall_s`` and ``setup_s``
  follow the program, not the neighbours of a shared host. The raw
  walls and the steal are printed beside them;
- traced (``--trace 1``): one process sets up and runs the traced layer
  ladder. The text, CLI-pass and pipeline layers read a smaller fixture
  of the same profile and seed (``LADDER_LINES``), so the run stays
  inside its time limit;
- checks every output against the generator's ground truth
  (``truth.py``);
- prints one line per repetition, a summary, and as the last line one
  JSON object with ``correct``, ``attempted``, ``failed`` and
  ``metrics``: the end-to-end metrics untraced, the per-layer metrics
  traced.

Exit status 2, with no result, when the program is not next to the
benchmark.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import meter  # noqa: E402
import truth  # noqa: E402

# Both workloads call render_report_from_sequences, on either side of the
# partial-aggregate collapse. Per-line work, not the job's fixed cost,
# carries most of a repetition, and a run (set-up, warm-up and at least
# three repetitions) stays near a minute, so that all runs fit the budget.
WORKLOADS = {
    "report_zipf": {"profile": "zipf", "lines": 500_000},
    "report_wide": {"profile": "wide", "lines": 250_000},
}
LADDER_LINES = 100_000
RUN_LIMIT_S = 170  # a whole invocation ends well inside 180 s
KEEP_FIXTURES = 4
# cached fixtures and their truth.json are keyed on the sources that make them
FIXTURE_KEY = hashlib.sha256(b"".join(
    open(f"{HERE}/{m}.py", "rb").read() for m in ("gen", "truth"))).hexdigest()[:12]

END_TO_END_UNITS = {"net_wall_s": "s", "lines_per_s": "1/s", "setup_s": "s", "worker_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.jvm_hwm_mb": "MB",
    "parse.scan_s": "s", "parse.ipc_s": "s", "parse.valid_s": "s", "parse.fields_s": "s",
    "parse.text_scan_s": "s", "parse.py_bytes_sent_per_line": "B/line",
    "parse.py_bytes_recv_per_line": "B/line", "parse.rows_strict": "count",
    "parse.rows_fallback": "count", "parse.rows_reject": "count", "parse.strict_share": "ratio",
    "reports.job_s": "s", "reports.partial_stage_s": "s", "reports.python_s": "s",
    "reports.tail_s": "s", "reports.partial_rows": "count", "reports.lines_per_partial_row": "ratio",
    "reports.shuffle_bytes": "B", "reports.spill_bytes": "B", "reports.fused_jvm_s": "s",
    "reports.all_reports_s": "s", "render.s": "s", "render.rows": "count",
    "cli.reject_echo_s": "s", "cli.reject_lines": "count", "enrich.s": "s",
    "route.fan_out_s": "s", "route.sink_files": "count", "route.sink_bytes": "B",
    "pipeline.cache_fill_s": "s", "pipeline.spark_jobs": "count",
    "checkpoint.partition_metrics_s": "s",
    "host.tree_cpu_s": "s", "host.steal_share": "ratio",
    "trace.overhead_s": "s", "trace.layer_share": "ratio",
}


class ChildFailed(RuntimeError):
    pass


def log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def pinned_env(work: str) -> dict:
    """The environment every Spark process of a run gets. The driver heap
    starts at half its maximum: from the JVM's small default, the second
    ``report_wide`` repetition of a process took 21-25 CPU seconds, from
    half the maximum 19-20 (two seeds each), so the JVM's warm-up ends
    sooner."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_")) and k != "SPARK_LOCAL_DIRS"}
    tmp, heap_mb = f"{work}/tmp", min(4096, meminfo_mb() // 4)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb // 2}m"
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    )
    return env


def program_id() -> str:
    """The commit if the checkout is a git repository, else a hash of the program's sources."""
    if os.path.isdir(f"{ROOT}/.git"):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:  # no git on this host
            pass
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{ROOT}/nginx_log_spark/**/*.py", recursive=True)):
        with open(p, "rb") as f:
            h.update(p[len(ROOT):].encode() + f.read())
    return "src-sha256:" + h.hexdigest()[:12]


def fixture(cache: str, profile: str, lines: int, seed: int) -> tuple[str, float]:
    """Path of the cached fixture and the seconds spent generating it (0 if cached)."""
    path = f"{cache}/{profile}-n{lines}-s{seed}-{FIXTURE_KEY}"
    if os.path.exists(f"{path}/truth.json"):
        os.utime(path)
        return path, 0.0
    t = time.time()
    expected = truth.compute(gen.write_fixture(path, profile, lines, seed))
    with open(f"{path}/truth.json", "w") as f:
        json.dump(expected, f)
    spent = time.time() - t
    old = sorted(glob.glob(f"{cache}/*-n*"), key=os.path.getmtime)[:-KEEP_FIXTURES]
    for p in old:
        shutil.rmtree(p, ignore_errors=True)
    return path, spent


def spawn(mode: str, fxs: list[str], work: str, seconds: float, deadline: float) -> dict:
    """Run one Spark driver process to completion; its result dict."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "cwd"):
        os.makedirs(f"{work}/{d}")
    out, logf = f"{work}/result.json", f"{work}/../{mode}.log"
    cmd = [sys.executable, f"{HERE}/spark_run.py", "--mode", mode, "--fixture", *fxs,
           "--seconds", str(seconds), "--work", work, "--out", out, "--spawned", repr(time.time()),
           "--spawned-stat", ",".join(map(str, meter.host_cpu()))]
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=f"{work}/cwd", env=pinned_env(work), stdout=lf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as f:
            tail = [ln for ln in f.read().splitlines() if " WARN " not in ln][-25:]
        print("\n".join(tail), file=sys.stderr)
        raise ChildFailed(f"{mode} process {'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        return json.load(f)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole session (JVM, Python workers) and wait until
    none of it runs."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.time() + 5
        while meter.group_alive(proc.pid) and time.time() < end:
            time.sleep(0.05)
        if not meter.group_alive(proc.pid):
            break
    proc.wait()


def summarize(child: dict, lines: int) -> tuple[dict, int, int]:
    """End-to-end values of the measuring process, with the runs attempted
    and failed: a set-up run, warm-up or repetition that raised or whose
    output failed the check is a failed run. Times are net of steal."""
    runs = [{"errors": child["setup_errors"]}] + child["warmup"] + child["reps"]
    failed = sum(bool(r["errors"]) for r in runs)
    ok = [r for r in child["reps"] if "wall_s" in r]
    if not ok:
        raise ChildFailed("no repetition completed")
    wall = statistics.median(r["wall_s"] * (1 - r["stolen_share"]) for r in ok)
    values = {
        "net_wall_s": wall,
        "lines_per_s": lines / wall,
        "setup_s": child["setup_s"] * (1 - child["setup_stolen_share"]),
        "worker_rss_mb": statistics.median(r["worker_rss_mb"] for r in ok),
    }
    return values, len(runs), failed


def result_line(values: dict, units: dict, attempted: int, failed: int) -> str:
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}})


def run_workload(name: str, seed: int, seconds: float, traced: bool, deadline: float) -> tuple[dict, int, int]:
    """(metric values, runs attempted, runs failed) of one workload."""
    wl = WORKLOADS[name]
    base = f"{ROOT}/.bench_build/perfbench"
    fx, gen_s = fixture(f"{base}/fixtures", wl["profile"], wl["lines"], seed)
    fxs = [fx]
    if traced:
        lx, ladder_gen_s = fixture(f"{base}/fixtures", wl["profile"], LADDER_LINES, seed)
        fxs.append(lx)
        gen_s += ladder_gen_s
    with open(f"{fx}/truth.json") as f:
        t = json.load(f)
    log(f"{name}: seed={seed} lines={t['lines']} strict={t['tiers']['strict']} "
        f"fallback={t['tiers']['fallback']} reject={t['tiers']['reject']} "
        f"generated_s={gen_s:.2f} (information only)")

    mode = "trace" if traced else "measure"
    began = time.time()
    c = spawn(mode, fxs, f"{base}/work", seconds, deadline)
    log(f"{name}: {mode} process_s={time.time() - began:.1f} "
        f"setup_s={c['setup_s']:.3f} stolen_share={c['setup_stolen_share']:.4f} "
        f"session_s={c['session_s']:.3f} "
        + " ".join(f"{k}={v}" for k, v in c["versions"].items())
        + (f" errors={c['setup_errors']}" if c["setup_errors"] else ""))

    if traced:
        layers = dict(c["layers"], **{"session.start_s": c["session_s"]})
        failed = bool(c["setup_errors"]) + bool(c["trace_errors"])
        for e in c["trace_errors"]:
            log(f"{name}: CHECK FAILED {e}")
        spans = f"{base}/trace-{name}-s{seed}.json"
        with open(spans, "w") as f:
            json.dump(c["spans"], f, indent=1)
        log(f"{name}: {len(c['spans'])} spans written to {os.path.relpath(spans, ROOT)}")
        for k, unit in LAYER_UNITS.items():
            log(f"{name}: {k} {layers[k]:.6g} {unit}")
        wall = statistics.median(c["untraced_walls"])
        cpus = len(os.sched_getaffinity(0))  # python_s sums the Python time of all task slots
        log(f"{name}: share of untraced wall_s {wall:.3f} s: " + " ".join(
            f"{k} {layers[k] / wall:.3f}" for k in ("reports.partial_stage_s", "reports.tail_s", "render.s"))
            + f" reports.python_s/{cpus} {layers['reports.python_s'] / cpus / wall:.3f}")
        return {k: layers[k] for k in LAYER_UNITS}, 2, failed

    labels = [f"warm-up {j}" for j in range(1, len(c["warmup"]) + 1)] + list(range(1, len(c["reps"]) + 1))
    for j, r in zip(labels, c["warmup"] + c["reps"]):
        if "wall_s" in r:
            log(f"{name}: rep {j} wall_s={r['wall_s']:.4f} stolen_share={r['stolen_share']:.4f} "
                f"net_wall_s={r['wall_s'] * (1 - r['stolen_share']):.4f} "
                f"worker_rss_mb={r['worker_rss_mb']:.1f} host.tree_cpu_s={r['tree_cpu_s']:.2f} "
                f"host.steal_share={r['steal_share']:.4f}" + (f" errors={r['errors']}" if r["errors"] else ""))
        else:
            log(f"{name}: rep {j} FAILED {r['errors']}")
    values, attempted, failed = summarize(c, t["lines"])
    raw = statistics.median(r["wall_s"] for r in c["reps"] if "wall_s" in r)
    log(f"{name}: " + " | ".join(f"{k} {v:.6g} {END_TO_END_UNITS[k]}" for k, v in values.items())
        + f" | failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted} runs)"
        + f" | raw wall_s {raw:.6g} s, raw setup_s {c['setup_s']:.6g} s (information only)")
    return values, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(f"{ROOT}/nginx_log_spark/__init__.py"):
        print(f"perfbench: no nginx_log_spark package in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    # a terminated benchmark still stops its Spark processes (spawn's finally)
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    start = time.time()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    cpus = len(os.sched_getaffinity(0))
    import numpy
    import pyarrow

    log(f"env: program={program_id()} python={sys.version.split()[0]} pyarrow={pyarrow.__version__} "
        f"numpy={numpy.__version__} cpus={cpus} mem_total_mb={meminfo_mb()}")
    env = pinned_env(f"{ROOT}/.bench_build/perfbench/work")
    log("env: " + " ".join(f"{k}={env[k]}" for k in sorted(env)
                           if k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL", "PYSPARK_SUBMIT"))))
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    values, all_units, attempted, failed = {}, {}, 0, 0
    try:
        for n, name in enumerate(names, 1):
            v, a, f = run_workload(name, args.seed, args.seconds, bool(args.trace), start + RUN_LIMIT_S * n)
            prefix = f"{name}." if len(names) > 1 else ""
            values.update({prefix + k: x for k, x in v.items()})
            all_units.update({prefix + k: units[k] for k in v})
            attempted, failed = attempted + a, failed + f
    except ChildFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(result_line(values, all_units, attempted, failed))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
