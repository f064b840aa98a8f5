#!/usr/bin/env python
"""Operator-suite benchmark: medians of interleaved rounds on this machine.

``python bench.py`` runs three groups of queries (``parse``,
``enrich_route``, ``ops``), each in a fresh child process with
``get_spark()``'s machine-fitted defaults. A child runs one untimed round
of its group (file listing, Python worker pool, JIT), then ``ROUNDS`` timed
rounds; a round runs every query of the group once, so one query's
repetitions interleave with the others' and a slow minute of the host
spreads over every row instead of landing on one. Each row reports the
median and interquartile range of its timed runs.

The last stdout line is one compact JSON object (``metric``, ``value`` =
the sum of the row medians, ``unit``, ``queries`` = the medians, ``iqr``
and a few rates); the raw runs go to ``BENCH_DETAIL.json`` next to this
file.

The log rows run over one deterministic tokenized fixture of 2M lines, the
reference's benchmark scale (README.MD:43), generated once and cached as
parquet. The report path itself is measured in depth, with output checks
and a per-layer trace, by ``perfbench/`` (``BENCHMARK.json``); this suite
keeps the operator rows that perfbench does not cover.

Paths: ``SPARK_GRAFT_SF_DIR`` (the generated sf0.1 tables) and
``SPARK_GRAFT_SEQ_CACHE`` (the fixture).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROWS = 2_000_000
SEQ_CACHE = os.environ.get(
    "SPARK_GRAFT_SEQ_CACHE", f"/tmp/nginx_log_spark_bench/seq_{ROWS}.parquet"
)
ROUNDS = 5  # timed rounds per child, after one untimed round
GROUPS = ("parse", "enrich_route", "ops")
DETAIL = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
COMPACT_KEYS = (
    "metric", "value", "unit", "queries", "iqr", "sf", "rows", "tokens", "cpus",
    "lines_per_sec", "tokens_per_sec", "report_job_lines_per_sec",
)


def _ensure_seq(spark):
    if not Path(SEQ_CACHE, "_SUCCESS").exists():
        from nginx_log_spark.datagen import write_sequences

        write_sequences(spark, ROWS, SEQ_CACHE, partitions=128)
    return spark.read.parquet(SEQ_CACHE)


def _group_queries(spark, group: str) -> dict:
    """The group's queries by row name, each a no-argument callable that
    runs one query to completion."""
    from pyspark.sql import functions as F

    if group == "parse":
        from nginx_log_spark.parse import parse_sequences
        from nginx_log_spark.reports.reports import fused_reports_arrow

        seq = _ensure_seq(spark)
        return {
            # the C tool's read-parse-discard loop: fields/keep_cols are a
            # manual projection pushdown (Catalyst cannot prune through
            # mapInArrow), so only the verdict crosses back from Python
            "parse_lines": lambda: parse_sequences(
                seq, fields=["valid"], keep_cols=[]
            ).filter(F.col("valid")).count(),
            # every field plus the token passthrough shipped to the JVM: the
            # transfer-bound cost a consumer pays only when it needs them all
            "parse_materialize": lambda: parse_sequences(seq).filter(F.col("valid")).count(),
            # the reference's whole job (c/main.c:407-523): parse and every
            # report aggregate in one mapInArrow pass, then the top-K tail
            "full_report_job": lambda: fused_reports_arrow(seq).collect(),
        }
    if group == "enrich_route":
        from nginx_log_spark.enrich import default_cidr_table, enrich_geoip, enrich_ua
        from nginx_log_spark.functions import chunk_stats, chunk_windows, pack_chunks, pack_offsets
        from nginx_log_spark.parse import parse_sequences
        from nginx_log_spark.route import fan_out_write

        seq = _ensure_seq(spark)

        def enrich():
            # the geo/UA rollup reads two parsed columns: ship only those
            parsed = parse_sequences(
                seq, fields=["remote_addr", "http_user_agent", "valid"], keep_cols=[]
            ).filter(F.col("valid"))
            df = enrich_ua(enrich_geoip(parsed, default_cidr_table(), spark=spark))
            df.groupBy("country", "ua_class").count().collect()

        def pack():
            offs = pack_offsets(
                seq.withColumn("_id", F.expr("cast(substring(doc_id, 2) as long)")),
                "_id", F.expr("_id div 100000"), 4096,
            )
            chunk_stats(pack_chunks(offs, 4096)).count()

        return {
            "enrich_geo_ua": enrich,
            "route_fanout_write": lambda: fan_out_write(
                parse_sequences(seq), "/tmp/nginx_log_spark_bench/sinks"
            ),
            "seq_pack_2m": pack,
            # RAG overlapping windows: projection + explode, no shuffle
            "seq_chunk_windows_2m": lambda: chunk_windows(seq, window=128, stride=96).count(),
        }
    if group == "ops":
        from nginx_log_spark import driver_queries as Q
        from nginx_log_spark.functions import (
            dsir_select,
            lsh_candidate_pairs,
            minhash_signatures,
            nb_fit,
            nb_score,
            prefix_jaccard_pairs,
            remove_duplicate_spans,
        )
        from nginx_log_spark.functions.dedup import with_shingles

        docs = lambda: spark.read.parquet(f"{SF_DIR}/documents.parquet")

        def minhash(hash_fn: str):
            sigs = minhash_signatures(docs(), n_hashes=8, shingle_k=5, hash_fn=hash_fn)
            lsh_candidate_pairs(sigs, band_size=4, max_bucket=100).count()

        def prefix_jaccard_skew():
            # every doc gets the same boilerplate, so those shingles occur
            # in every doc: the hot-key case for the frequency join
            boiler = " the quick brown fox jumps over the lazy dog once more"
            skewed = docs().withColumn("text", F.concat(F.col("text"), F.lit(boiler)))
            prefix_jaccard_pairs(skewed, shingle_k=5, threshold=0.7).count()

        # a pseudo-random tail of 260 letters per distinct text (exact
        # duplicates keep theirs, so they stay pairs) lifts the vocabulary
        # above 2^20 shingles: the join's relational path
        open_vocab = lambda: docs().withColumn("text", F.concat_ws(" ", "text", F.expr(
            "concat_ws('', transform(sequence(1, 260), i -> substring("
            "'abcdefghijklmnopqrstuvwxyz', cast(pmod(xxhash64(text, i), 26) as int) + 1, 1)))"
        )))
        # checkpointed first: otherwise the explode's inferred size(_sh) > 0
        # filter re-derives the text once per shingle position (~6 min on 4 cores)
        n_vocab = with_shingles(open_vocab(), "text", 5).localCheckpoint().select(
            F.explode("_sh")).distinct().count()
        print(f"[bench] docs_prefix_jaccard_openvocab vocabulary: {n_vocab} shingles",
              file=sys.stderr, flush=True)

        def nb():
            d = docs()
            model, priors = nb_fit(d, label_col="source", dims=1024)
            nb_score(d, model, priors, dims=1024).count()

        return {
            "tpch_q1": lambda: Q.tpch_q1(spark, SF_DIR).collect(),
            "docs_exact_dedup": lambda: Q.docs_exact_dedup(spark, SF_DIR).collect(),
            # xxhash64 is the production path; md5_sliced is the twin the
            # DuckDB oracle can check
            "docs_minhash_lsh_xxh": lambda: minhash("xxhash64"),
            "docs_minhash_lsh_md5_parity": lambda: minhash("md5_sliced"),
            "docs_prefix_jaccard_t07": lambda: prefix_jaccard_pairs(
                docs(), shingle_k=5, threshold=0.7
            ).count(),
            "docs_prefix_jaccard_skew": prefix_jaccard_skew,
            "docs_prefix_jaccard_openvocab": lambda: prefix_jaccard_pairs(
                open_vocab(), shingle_k=5, threshold=0.7
            ).count(),
            "emb_cosine_tfidf_composite": lambda: Q.emb_cosine_topk(spark, SF_DIR).collect(),
            "docs_dsir_select": lambda: dsir_select(
                docs(), F.col("source") == "src0", k=100
            ).collect(),
            "docs_span_removal_w8": lambda: remove_duplicate_spans(docs(), word_window=8).count(),
            "docs_nb_fit_score": nb,
        }
    raise ValueError(f"unknown group {group!r}")


def _timed(fn, label: str) -> float:
    t0 = time.perf_counter()
    fn()
    dt = round(time.perf_counter() - t0, 3)
    print(f"[bench] {label}: {dt}s", file=sys.stderr, flush=True)
    return dt


def run_group_child(group: str) -> None:
    from nginx_log_spark.session import get_spark

    spark = get_spark(app="nginx_log_spark-bench")
    queries = _group_queries(spark, group)
    for name, fn in queries.items():
        _timed(fn, f"{name} untimed")
    runs: dict[str, list[float]] = {name: [] for name in queries}
    for r in range(ROUNDS):
        for name, fn in queries.items():
            runs[name].append(_timed(fn, f"{name} round{r}"))
    meta: dict = {"cpus": spark.sparkContext.defaultParallelism}
    if group == "parse":
        from pyspark.sql import functions as F

        seq = spark.read.parquet(SEQ_CACHE)
        meta.update(rows=seq.count(), tokens=int(seq.agg(F.sum("n_tok")).first()[0]))
    print("@@RESULT@@" + json.dumps({"runs": runs, **meta}))
    spark.stop()


def _run_child(group: str) -> dict:
    r = subprocess.run([sys.executable, __file__, "--group-child", group],
                       capture_output=True, text=True, timeout=3600)
    for line in r.stderr.splitlines():
        if line.startswith("[bench]"):
            print(line, file=sys.stderr, flush=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("@@RESULT@@")]
    if not lines:
        raise RuntimeError(f"group {group} failed:\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
    return json.loads(lines[-1][len("@@RESULT@@"):])


def summarize(runs: dict[str, list[float]], meta: dict) -> dict:
    """The full result from every row's timed runs: per row the median and
    the quartiles, and ``value`` = the sum of the row medians."""
    detail = {}
    for name, ts in runs.items():
        q1, med, q3 = statistics.quantiles(ts, n=4, method="inclusive")
        detail[name] = {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3),
                        "iqr": round(q3 - q1, 3), "runs": ts}
    queries = {name: d["median"] for name, d in detail.items()}
    rows, tokens = meta["rows"], meta["tokens"]
    n_rounds = min(len(ts) for ts in runs.values())
    return {
        "metric": (
            f"end-to-end parse+report wall time ({rows / 1e6:g}M tokenized lines) "
            f"+ operator suite, medians of {n_rounds} interleaved rounds"
        ),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "iqr": {name: d["iqr"] for name, d in detail.items()},
        "rows_detail": detail,
        "sf": SF_DIR,
        "rows": rows,
        "tokens": tokens,
        "cpus": meta["cpus"],
        "lines_per_sec": int(rows / queries["parse_lines"]),
        "tokens_per_sec": int(tokens / queries["parse_lines"]),
        "report_job_lines_per_sec": int(rows / queries["full_report_job"]),
    }


def compact(out: dict) -> dict:
    """The one-line stdout payload, small enough for a tail capture; the
    runs stay in BENCH_DETAIL.json."""
    return {**{k: out[k] for k in COMPACT_KEYS}, "detail_file": DETAIL.name}


def run_bench() -> dict:
    runs: dict[str, list[float]] = {}
    meta: dict = {}
    for group in GROUPS:
        payload = _run_child(group)
        runs.update(payload.pop("runs"))
        meta.update(payload)
    return summarize(runs, meta)


if __name__ == "__main__":
    if "--group-child" in sys.argv:
        run_group_child(sys.argv[sys.argv.index("--group-child") + 1])
    else:
        result = run_bench()
        DETAIL.write_text(json.dumps(result, indent=1))
        print(json.dumps(compact(result), separators=(",", ":")))
