"""One Spark driver process of a benchmark run.

Started by ``run.py`` with the environment pinned and the fixture built.
Every mode first sets up as a user would: ``get_spark()`` and one
untimed, checked run of the workload's entry point. Then:

- ``measure``: run the entry point ``WARMUP_REPS`` more times to warm
  up, then repeat it, untraced, at least ``MIN_REPS`` times and while
  the next repetition should end within ``--seconds`` of the first
  warm-up's start, reading each repetition's Python-worker peak RSS,
  tree CPU, steal and stolen share (the share of the time the CPUs
  wanted to run that the hypervisor gave to other guests);
- ``trace``: one traced repetition split into its layers (spans, SQL
  metrics off the final plan, stage data from the status store) between
  three untraced ones, then the layer ladder: one call into each layer's
  public functions, on the workload's fixture for the parquet layers and
  on the second, smaller fixture for the text, CLI-pass and pipeline
  layers.

The result, with every output check, goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
import traceback

import meter
import truth

WIDTH = 96  # key column width of the rendered report (the CLI's --width 96)
MIN_REPS = 3
# The JVM's JIT keeps compiling through the two repetitions after the
# cold one: the JVM's CPU per repetition fell 10.3, 8.7, 7.2, 7.0, 6.6 s
# on report_zipf, with no more than 0.17 s of GC pauses in any of them.
WARMUP_REPS = 2


class Fixture:
    def __init__(self, path: str) -> None:
        self.seq = f"{path}/seq"
        self.log = f"{path}/access.log"
        with open(f"{path}/truth.json") as f:
            self.truth = json.load(f)


def report(spark, fx: Fixture) -> str:
    """The workload's entry point: tokenized table -> rendered report."""
    from nginx_log_spark.reports.render import render_report_from_sequences

    return render_report_from_sequences(spark.read.parquet(fx.seq), width=WIDTH, color=False)


def _rep(spark, fx: Fixture) -> dict:
    """One untraced, checked repetition with its host readings."""
    rep: dict = {}
    try:
        with meter.RunProbe(os.getpid()) as probe:
            t = time.perf_counter()
            text = report(spark, fx)
            rep["wall_s"] = time.perf_counter() - t
        rep.update(worker_rss_mb=probe.worker_rss_mb, tree_cpu_s=probe.tree_cpu_s,
                   steal_share=probe.steal_share, stolen_share=probe.stolen_share)
        rep["errors"] = truth.check_report_text(text, fx.truth, WIDTH)[:5]
    except Exception:  # a failed repetition counts toward failed_frac
        rep["errors"] = [traceback.format_exc(limit=3)]
    return rep


def measure(spark, fx: Fixture, seconds: float) -> tuple[list[dict], list[dict]]:
    """The warm-up repetitions and the timed ones."""
    end = time.time() + seconds
    warmup, reps = [_rep(spark, fx) for _ in range(WARMUP_REPS)], []
    # past MIN_REPS, start another repetition only if it should end inside the window
    while len(reps) < MIN_REPS or time.time() + reps[-1].get("wall_s", 0.0) <= end:
        reps.append(_rep(spark, fx))
    return warmup, reps


def _drain(batches):
    """mapInArrow body that consumes its input and emits no rows."""
    for _ in batches:
        pass
    yield from ()


def traced(spark, fx: Fixture, lx: Fixture, work: str) -> tuple[dict, list[float], list[dict], list[str]]:
    """Per-layer metrics, the untraced walls, the spans behind the metrics
    and any output mismatches. ``lx`` is the smaller fixture of the text,
    CLI-pass and pipeline layers."""
    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_lines, parse_sequences_arrow, parse_tier_stats, read_log_lines
    from nginx_log_spark.pipeline import run_pipeline
    from nginx_log_spark.reports.render import render_from_fused
    from nginx_log_spark.reports.reports import fused_reports, fused_reports_arrow
    from nginx_log_spark.route import fan_out_write

    t, lines = fx.truth, fx.truth["lines"]
    spans, m, errs = meter.Spans(), {}, []
    seq = lambda: spark.read.parquet(fx.seq)

    def layer(name: str, fn):
        with spans.span(name) as s:
            out = fn()
        m[name] = s["end"] - s["start"]
        return out

    def check(what: str, problems: list[str]) -> None:
        errs.extend(f"{what}: {p}" for p in problems[:5])

    def untraced() -> float:
        t0 = time.perf_counter()
        report(spark, fx)
        return time.perf_counter() - t0

    # end to end: one traced repetition in layers between untraced ones
    walls = [untraced(), untraced()]
    with meter.RunProbe(os.getpid()) as probe, spans.span("report") as root:
        with spans.span("reports.job") as job, meter.job_group(spark, "reports.job"):
            df = fused_reports_arrow(seq())
            rows = df.collect()
        with spans.span("reports.render") as rnd:
            text = render_from_fused(rows, 100, WIDTH, False)
    walls.append(untraced())
    check("traced report", truth.check_report_text(text, t, WIDTH))
    check("fused_reports_arrow rows", truth.check_fused_rows(rows, t))
    stages = meter.group_stages(spark, "reports.job")
    partial = [(s["start"], s["end"]) for s in stages if s["input_bytes"] > 0]
    tail = [(s["start"], s["end"]) for s in stages if s["input_bytes"] == 0]
    leaves = [(rnd["start"], rnd["end"])]
    for s in stages:
        a, b = max(s["start"], job["start"]), min(s["end"], job["end"])
        spans.add("reports.partial_stage" if s["input_bytes"] > 0 else "reports.tail_stage",
                  a, b, job["id"], stage=s["stage"])
        leaves.append((a, b))
    nodes = meter.plan_metrics(df)
    partial_rows = meter.sum_metric(nodes, "MapInArrow", "pythonNumRowsReceived")
    m.update({
        "reports.job_s": job["end"] - job["start"],
        "reports.partial_stage_s": meter.union_length(partial),
        "reports.tail_s": meter.union_length(tail),
        "reports.python_s": meter.sum_metric(nodes, "MapInArrow", "pythonTotalTime") / 1000,
        "reports.partial_rows": partial_rows,
        "reports.lines_per_partial_row": lines / partial_rows if partial_rows else 0.0,
        "reports.shuffle_bytes": meter.sum_metric(nodes, "Exchange", "shuffleBytesWritten"),
        "reports.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "parse.py_bytes_sent_per_line": meter.sum_metric(nodes, "MapInArrow", "pythonDataSent") / lines,
        "parse.py_bytes_recv_per_line": meter.sum_metric(nodes, "MapInArrow", "pythonDataReceived") / lines,
        "render.s": rnd["end"] - rnd["start"],
        "render.rows": len(rows),
        "host.tree_cpu_s": probe.tree_cpu_s,
        "host.steal_share": probe.steal_share,
        "trace.overhead_s": (root["end"] - root["start"]) - statistics.median(walls),
        # stages can overlap, so their union, not their sum
        "trace.layer_share": meter.union_length(leaves) / statistics.median(walls),
    })

    # the ladder: one call into each layer, cheapest first
    n_tok = layer("parse.scan_s", lambda: seq().select(F.sum(F.size("tokens"))).collect()[0][0])
    check("scan", [] if n_tok == t["token_total"] else [f"{n_tok} tokens, expected {t['token_total']}"])
    layer("parse.ipc_s", lambda: seq().mapInArrow(_drain, "doc_id string").count())
    valid = layer("parse.valid_s", lambda: parse_sequences_arrow(seq(), fields=["valid"], keep_cols=[])
                  .filter("valid").count())
    check("valid rows", [] if valid == t["valid"] else [f"{valid}, expected {t['valid']}"])
    layer("parse.fields_s", lambda: parse_sequences_arrow(seq(), keep_cols=[])
          .write.format("noop").mode("overwrite").save())
    tiers = parse_tier_stats(seq()).collect()[0]
    got = [tiers["n_strict"], tiers["n_fallback_ok"], tiers["n_reject"]]
    want = [t["tiers"][k] for k in ("strict", "fallback", "reject")]
    check("parse tiers", [] if got == want else [f"{got}, expected {want}"])
    m.update({"parse.rows_strict": got[0], "parse.rows_fallback": got[1], "parse.rows_reject": got[2],
              "parse.strict_share": got[0] / lines})

    # the text, CLI-pass and pipeline layers, on the smaller fixture
    t, lines = lx.truth, lx.truth["lines"]
    seq = lambda: spark.read.parquet(lx.seq)
    n_text = layer("parse.text_scan_s", lambda: read_log_lines(spark, lx.log).count())
    check("text lines", [] if n_text == lines else [f"{n_text}, expected {lines}"])

    jvm_rows = layer("reports.fused_jvm_s", lambda: fused_reports(
        parse_lines(read_log_lines(spark, lx.log)).filter(F.col("valid"))).collect())
    check("fused_reports rows", truth.check_fused_rows(jvm_rows, t))
    echoed = layer("cli.reject_echo_s", lambda: sum(1 for _ in parse_lines(read_log_lines(spark, lx.log))
                   .filter(~F.col("valid")).select("line").toLocalIterator()))
    m["cli.reject_lines"] = echoed
    check("reject echo", [] if echoed == t["rejects"] else [f"{echoed}, expected {t['rejects']}"])

    sink = f"{work}/sinks"
    with meter.job_group(spark, "pipeline"):
        res = run_pipeline(spark, seq())
        layer("pipeline.cache_fill_s", lambda: res.parsed.count())
        layer("enrich.s", lambda: res.accepted.write.format("noop").mode("overwrite").save())
        layer("route.fan_out_s", lambda: fan_out_write(res.parsed, sink))
        frames = layer("reports.all_reports_s", lambda: {k: v.collect() for k, v in res.reports.items()})
        metrics = layer("checkpoint.partition_metrics_s", lambda: res.metrics.collect())
        res.parsed.unpersist(blocking=True)
    m["pipeline.spark_jobs"] = len(meter.group_jobs(spark, "pipeline"))
    counts, m["route.sink_files"], m["route.sink_bytes"] = truth.sink_counts(sink)
    check("sinks", truth.check_sinks(counts, t))
    check("all_reports", truth.check_all_reports(frames, t))
    n_metric = sum(r["rows"] for r in metrics)
    check("partition_metrics", [] if n_metric == lines else [f"{n_metric} rows, expected {lines}"])

    m["session.jvm_hwm_mb"] = max((meter.hwm_mb(p) for p in meter.jvm_pids(os.getpid())), default=0.0)
    return m, walls, spans.items, errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["measure", "trace"], required=True)
    ap.add_argument("--fixture", nargs="+", required=True, help="the workload's fixture [, the ladder's]")
    ap.add_argument("--spawned", type=float, required=True, help="time.time() when the parent spawned us")
    ap.add_argument("--spawned-stat", required=True, help="meter.host_cpu() then, comma-separated")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from nginx_log_spark.session import get_spark

    spark = get_spark(app="perfbench")
    session_s = time.time() - args.spawned
    fx = Fixture(args.fixture[0])
    jvm = spark.sparkContext._jvm
    res: dict = {"session_s": session_s, "versions": {
        "spark": spark.version, "java": jvm.java.lang.System.getProperty("java.version")}}
    try:
        text = report(spark, fx)
        res["setup_s"] = time.time() - args.spawned
        res["setup_stolen_share"] = meter.stolen_share(
            [int(x) for x in args.spawned_stat.split(",")], meter.host_cpu())
        res["setup_errors"] = truth.check_report_text(text, fx.truth, WIDTH)[:5]
        if args.mode == "measure":
            res["warmup"], res["reps"] = measure(spark, fx, args.seconds)
        else:
            res["layers"], res["untraced_walls"], res["spans"], res["trace_errors"] = traced(
                spark, fx, Fixture(args.fixture[1]), args.work)
        with open(args.out, "w") as f:
            json.dump(res, f)
    finally:
        t = time.time()
        spark.stop()
        print(f"perfbench: spark.stop() took {time.time() - t:.2f} s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
