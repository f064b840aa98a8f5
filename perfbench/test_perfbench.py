"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

They need no Spark session: fixtures are small, and the report the
checker is tested on is rendered offline from ground truth.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import meter  # noqa: E402
import run  # noqa: E402
import truth  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), d)] = f.read()
    return out


@pytest.fixture(scope="module", params=sorted(gen.PROFILES))
def small(request, tmp_path_factory):
    """A 5000-line fixture of each profile and its ground truth."""
    d = str(tmp_path_factory.mktemp(request.param) / "fx")
    fields = gen.write_fixture(d, request.param, 5000, seed=7)
    return d, fields, truth.compute(fields)


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    for profile in gen.PROFILES:
        a, b, c = (str(tmp_path / f"{profile}{k}") for k in "abc")
        gen.write_fixture(a, profile, 3000, seed=5)
        gen.write_fixture(b, profile, 3000, seed=5)
        gen.write_fixture(c, profile, 3000, seed=6)
        assert _files(a) == _files(b)
        assert _files(a)["access.log"] != _files(c)["access.log"]


def test_fixture_shape(small):
    d, _, t = small
    seq = pq.read_table(f"{d}/seq")
    assert seq.schema.names == ["doc_id", "tokens", "n_tok", "source"]
    assert seq.schema.field("tokens").type.value_type == pa.int32()
    with open(f"{d}/access.log", "rb") as f:
        lines = f.read().split(b"\n")[:-1]
    assert len(lines) == seq.num_rows == t["lines"] == 5000
    first = seq.slice(0, 1).to_pylist()[0]
    assert bytes(first["tokens"]) == lines[0] and first["n_tok"] == len(lines[0])
    assert t["tiers"]["fallback"] > 0.03 * t["lines"] and 0 < t["tiers"]["reject"] < 0.02 * t["lines"]


def test_ground_truth_agrees_with_the_oracle(small):
    """The generator's fields are what the reference parser extracts."""
    from nginx_log_spark.parse import oracle

    rows = small[1].slice(0, 2000).to_pylist()
    for r in rows:
        parsed = oracle.parse_line(r["line"])
        if r["tier"] == "reject":
            assert parsed is None, r["line"]
        else:
            assert parsed == {k: r[k] for k in oracle.CORE_FIELDS}, r["line"]


def _rows_from_truth(t: dict) -> list[dict]:
    """Fused-report rows equivalent to the ground truth."""
    big = 10**9
    rows = []
    base = dict(key2=None, section_total=t["valid"], section_bytes=t["total_bytes"])
    for dim, want in t["dims"].items():
        for i, (k, c) in enumerate(want["top"], 1):
            rows.append(dict(base, dim=dim, key=k, cnt=c, bytes=0, rn=i, rn_bytes=big,
                             section_keys=want["distinct"]))
    for i, (k, b) in enumerate(t["bytes_top"], 1):
        rows.append(dict(base, dim="top_requests", key=k, cnt=0, bytes=b, rn=big, rn_bytes=i,
                         section_keys=t["dims"]["top_requests"]["distinct"]))
    for status, want in t["bad_code"].items():
        for i, (req, c) in enumerate(want["top"], 1):
            rows.append(dict(dim="bad_code", key=status, key2=req, cnt=c, bytes=0, rn=i, rn_bytes=big,
                             section_total=want["total"], section_bytes=0, section_keys=want["distinct"]))
    return rows


def test_a_corrupted_report_fails_the_check(small):
    from nginx_log_spark.reports.render import render_from_fused

    t = small[2]
    rows = _rows_from_truth(t)
    assert truth.check_fused_rows(rows, t) == []
    text = render_from_fused(rows, 100, 96, False)
    assert truth.check_report_text(text, t, 96) == []

    lines = text.split("\n")
    row = next(i for i, ln in enumerate(lines) if ln.endswith("%") and ln[:96].strip())
    bumped = lines[row][:97] + str(int(lines[row][97:].split()[0]) + 1).rjust(6) + lines[row][103:]
    assert truth.check_report_text("\n".join(lines[:row] + [bumped] + lines[row + 1:]), t, 96)
    assert truth.check_report_text("\n".join(lines[:row] + lines[row + 1:]), t, 96)
    assert truth.check_report_text(text.replace(f"共计{t['valid']}次", f"共计{t['valid'] - 1}次"), t, 96)

    bad = [dict(r) for r in rows]
    bad[0]["cnt"] += 1
    assert truth.check_fused_rows(bad, t)
    assert truth.check_sinks({}, t)


def test_metric_names_and_units_match_benchmark_json():
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

    child = {"setup_s": 20.0, "setup_stolen_share": 0.25, "session_s": 14.0, "setup_errors": [],
             "warmup": [{"wall_s": 9.0, "stolen_share": 0.0, "worker_rss_mb": 900.0, "errors": []}],
             "reps": [{"wall_s": 2.0, "stolen_share": 0.5, "worker_rss_mb": 200.0, "errors": []},
                      {"errors": ["boom"]}]}
    values, attempted, failed = run.summarize(child, lines=1000)
    assert set(values) == set(run.END_TO_END_UNITS) and all(v > 0 for v in values.values())
    assert (attempted, failed) == (4, 1)
    assert values["net_wall_s"] == 1.0 and values["lines_per_s"] == 1000.0
    line = run.result_line(values, run.END_TO_END_UNITS, attempted, failed)
    assert json.loads(line)["metrics"]["setup_s"] == {"value": 15.0, "unit": "s"}


def test_spans_nest_and_overlaps_count_once():
    s = meter.Spans()
    with s.span("root") as root:
        with s.span("child") as child:
            pass
    assert child["parent"] == root["id"] and root["parent"] is None
    assert root["start"] <= child["start"] <= child["end"] <= root["end"]
    assert meter.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_worker_high_water_mark_reset_and_read():
    code = "x = bytearray(300 << 20); del x; print('ready', flush=True); import time; time.sleep(30)"
    p = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert p.stdout.readline().strip() == "ready"
        assert meter.hwm_mb(p.pid) > 250
        meter.reset_hwm([p.pid])
        assert meter.hwm_mb(p.pid) < 100
        assert p.pid in meter.descendants(os.getpid())
        cpu = meter.tree_cpu(os.getpid())
        assert cpu[os.getpid()] > 0
    finally:
        p.kill()
        p.wait(timeout=10)
    before = meter.host_cpu()
    time.sleep(0.05)
    after = meter.host_cpu()
    assert 0.0 <= meter.steal_share(before, after) <= 1.0
    assert 0.0 <= meter.stolen_share(before, after) <= 1.0
    # 40 ticks wanted (user 20, system 10, steal 10), 60 idle: a quarter stolen
    assert meter.stolen_share([0] * 8, [20, 0, 10, 50, 10, 0, 0, 10]) == 0.25


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "report_zipf", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
