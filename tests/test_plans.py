"""Plan audits: the physical-plan properties the 100 TB design depends on,
asserted so a refactor can't silently regress them.

Each test pins one claim from SURVEY.md §4 / BENCH.md:
  - filters and projections reach the parquet scan (pushdown + pruning)
  - dimension joins broadcast (no fact-side shuffle)
  - the report frames are views of one cached fused ranking
  - the CLI and the graded report queries rank through the Arrow kernel
  - candidate-pair joins are equi-joins (never a nested-loop / cartesian)
  - the packing prefix-sum's only single-partition exchange is the tiny
    bucket-totals frame, and the data shuffles exactly once
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _tree(p: str) -> list[tuple[int, str, str]]:
    """(depth, operator, node id) of each node of a formatted plan's
    operator tree, top-down; a child is deeper than its parent."""
    out = []
    for ln in p.split("\n\n")[0].splitlines()[1:]:
        m = re.match(r"^([ :+\-]*)(\w+).*\((\d+)\)$", ln)
        if m:
            out.append((len(m.group(1)), m.group(2), m.group(3)))
    return out


def _below(tree, i: int) -> list[tuple[int, str, str]]:
    """The nodes under ``tree[i]``."""
    j = i + 1
    while j < len(tree) and tree[j][0] > tree[i][0]:
        j += 1
    return tree[i + 1 : j]


def _above(tree, i: int) -> list[int]:
    """The indices of the ancestors of ``tree[i]``, nearest first."""
    out, depth = [], tree[i][0]
    for j in range(i - 1, -1, -1):
        if tree[j][0] < depth:
            out.append(j)
            depth = tree[j][0]
    return out


def _assert_rank_tail_shape(p: str) -> None:
    """The fused ranking tail in the formatted plan ``p``: the local top-k
    cut (the MapInArrow that reads ``_sk``) has exactly one Exchange of
    partials below it, the final aggregate's ``hashpartitioning(dim_id,
    key0, ...)``; the exact ranks are a window on (dim_id, _sk) above it; and
    no section totals are broadcast into the ranking."""
    tree = _tree(p)
    cut = re.search(r"\((\d+)\) MapInArrow\nInput \[\d+\]: \[[^\]]*\b_sk#", p).group(1)
    i = next(i for i, n in enumerate(tree) if n[1:] == ("MapInArrow", cut))
    # the Exchanges that move partials (an upstream fan-out of the input
    # rows is not part of the tail)
    exchanges = [n[2] for n in _below(tree, i) if n[1] == "Exchange"
                 and re.search(rf"\({n[2]}\) Exchange\nInput \[\d+\]: \[[^\]]*\bdim_id#", p)]
    assert len(exchanges) == 1, exchanges
    assert re.search(
        rf"\({exchanges[0]}\) Exchange\nInput .*\nArguments: hashpartitioning\(dim_id#\d+, key0#\d+, ", p
    ), p
    above = _above(tree, i)
    windows = [tree[j][2] for j in above if tree[j][1] == "Window"]
    assert windows and all(
        re.search(rf"\({w}\) Window\nInput .*\nArguments: .*\], \[dim_id#\d+, _sk#\d+\]", p)
        for w in windows
    ), windows
    # the ranking's own plan: the cached relation's, or the whole plan
    top = next((j for j in above if tree[j][1] == "InMemoryRelation"), None)
    ranking = tree if top is None else _below(tree, top)
    assert "BroadcastExchange" not in [n[1] for n in ranking], p


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_parquet_filter_and_column_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("source") == "src1")
        .select("doc_id", "n_chars")
    )
    p = plan(df)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src1)]" in p
    # projection pruning: the scan must not read `text`
    assert "text" not in p.split("ReadSchema")[1].splitlines()[0]


def test_top_counts_plans_take_ordered(spark, sf_dir):
    """all_reports runs the fused ranking once: every frame scans the one
    persisted fused result and none re-aggregates the parsed rows; the
    top-count views are a TakeOrderedAndProject over it."""
    from nginx_log_spark.parity import parsed_log_df
    from nginx_log_spark.reports import reports as R

    parsed = parsed_log_df(spark, sf_dir).filter(F.col("valid"))
    frames = R.all_reports(R.fused_reports(parsed))
    assert "TakeOrderedAndProject" in plan(frames["top_ips"])
    for name, df in frames.items():
        p = plan(df)
        assert "InMemoryTableScan" in p, name
        # above the cached relation: filters, projections, tiny sorts only
        view = p.split("InMemoryRelation")[0]
        for op in ("MapInArrow", "Generate", "Window"):
            assert op not in view, (name, op)


def _assert_one_kernel(p: str, raw_col: str) -> None:
    """The fused report in the formatted plan ``p`` runs through the Arrow
    kernel: two mapInArrow ops, the kernel, sent only the raw column
    ``raw_col`` and returning the partials, and the ranking's cut; no JVM
    explode. Ops are told apart by their expression ids, as a materialized
    cache prints its initial and its final plan."""
    ops = dict(re.findall(r"\) MapInArrow\s*\nInput \[\d+\]: \[.*\]\nArguments: (op\(.*?\)#\d+), \[(.*?)\]", p))
    assert len(ops) == 2, ops
    kernel = [op for op, out in ops.items() if out.startswith("dim_id#") and "_sk" not in out]
    assert len(kernel) == 1 and re.fullmatch(rf"op\({raw_col}#\d+\)#\d+", kernel[0]), ops
    assert "Generate" not in p


@pytest.fixture(scope="module")
def cli_inputs(tmp_path_factory):
    """A one-line text log and the same line as a token table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("cli_inputs")
    line = b'10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "GET /a HTTP/1.1" 200 10 "-" "u" "-"'
    (d / "a.log").write_bytes(line + b"\n")
    pq.write_table(pa.table({"doc_id": ["d0"], "tokens": pa.array([list(line)], pa.list_(pa.int32())),
                             "n_tok": pa.array([len(line)], pa.int32())}), d / "seq.parquet")
    return str(d / "a.log"), str(d / "seq.parquet")


def test_cli_and_graded_report_take_one_kernel(spark, sf_dir, cli_inputs):
    """The CLI's report frame over a text log and the graded log_top_dims
    (views of one cached fused result) rank through the same Arrow kernel
    as the benchmark, never the JVM front end's explode."""
    from nginx_log_spark import cli
    from nginx_log_spark.driver_queries import log_top_dims

    fused, _, _ = cli.report_frames(spark, cli_inputs[0])
    _assert_one_kernel(plan(fused), "line")
    _assert_one_kernel(plan(log_top_dims(spark, sf_dir)), "tokens")


def test_cli_echo_parse_reads_echo_column_and_pos(spark, cli_inputs):
    """The CLI's reject echo is a valid-only parse sent only the raw
    column, the echo column and pos: for text the line is both."""
    from nginx_log_spark import cli

    for path, sent in zip(cli_inputs, (r"line#\d+, pos#\d+L", r"tokens#\d+, doc_id#\d+, pos#\d+L")):
        _, rejects, _ = cli.report_frames(spark, path)
        p = plan(rejects)
        assert len(re.findall(r"\(\d+\) MapInArrow\n", p)) == 1, p
        assert re.search(rf"\) MapInArrow\nInput \[\d\]: \[{sent}\]\n", p), p
        # the valid-only op returns the echo column, pos and valid
        assert re.search(r"\) MapInArrow\nInput .*\nArguments: op\(.*\)#\d+, \[\w+#\d+, pos#\d+L, valid#\d+\]", p), p


def test_geoip_enrich_is_broadcast_equi_join(spark, sf_dir):
    from nginx_log_spark.enrich import default_cidr_table, enrich_geoip
    from nginx_log_spark.parity import parsed_log_df

    parsed = parsed_log_df(spark, sf_dir).filter(F.col("valid"))
    p = plan(enrich_geoip(parsed, default_cidr_table(), spark=spark))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # fact side must not shuffle


def test_lsh_pairs_is_equi_join(spark, sf_dir):
    from nginx_log_spark.functions import lsh_candidate_pairs, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, n_hashes=8, shingle_k=5)
    p = plan(lsh_candidate_pairs(sigs, band_size=4, max_bucket=100))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pack_offsets_single_partition_only_for_bucket_frame(spark):
    from nginx_log_spark.functions import pack_offsets

    seq = spark.range(1000).select(
        F.col("id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
    )
    p = plan(pack_offsets(seq, "id", F.expr("id div 100"), 64))
    # exactly one SinglePartition exchange (the #buckets-row cumsum)...
    assert p.count("Arguments: SinglePartition") == 1
    # ...and two bucket-keyed hash exchanges: the groupBy's partial-agg
    # stream (#buckets rows/partition after map-side combine) and the ONE
    # data shuffle feeding the within-bucket window
    assert p.count("Arguments: hashpartitioning(_pk_bucket") == 2
    assert "BroadcastHashJoin" in p


def test_fused_report_partials_are_map_side(spark, sf_dir):
    """The fused report's JVM input is the partial-agg stream, never raw
    rows: the mapInArrow output schema is the 4-column partial shape."""
    from nginx_log_spark.parity import events_with_log_columns
    from nginx_log_spark.reports.reports import fused_reports_arrow

    seq = events_with_log_columns(spark, sf_dir).select("doc_id", "tokens", "n_tok")
    p = plan(fused_reports_arrow(seq))
    assert "dim_id" in p and "key0" in p
    assert "CartesianProduct" not in p


def test_fused_report_kernel_reads_only_tokens(spark, sf_dir):
    """Only the token arrays cross into the Python kernel: the op never
    reads doc_id, n_tok or source, and each column it is sent costs Arrow
    IPC per row."""
    from nginx_log_spark.parity import events_with_log_columns
    from nginx_log_spark.reports.reports import fused_reports_arrow

    seq = events_with_log_columns(spark, sf_dir).select("doc_id", "tokens", "n_tok", "source")
    p = plan(fused_reports_arrow(seq))
    tree = _tree(p)
    # the kernel is the MapInArrow over the scan; the ranking's local
    # top-k cut is the second MapInArrow, above the aggregate
    kernel = [n[2] for i, n in enumerate(tree) if n[1] == "MapInArrow"
              and "MapInArrow" not in [b[1] for b in _below(tree, i)]]
    assert len(kernel) == 1, tree
    assert re.search(rf"\({kernel[0]}\) MapInArrow\s*\nInput \[1\]: \[tokens#", p), p


@pytest.mark.parametrize("op", ["ngram_jaccard_pairs", "split_contamination"])
def test_shingle_explode_keeps_normalisation_above_scan(spark, docs, op):
    """The shingle explodes must not let Spark push an inferred
    ``size(_sh) > 0`` filter below the normalised-text projection: that
    filter inlines the normalisation regex once per shingle position."""
    from nginx_log_spark.functions import dedup

    if op == "split_contamination":
        out = dedup.split_contamination(docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"))
    else:
        out = dedup.ngram_jaccard_pairs(docs)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln for ln in optimized.splitlines() if ln.lstrip(" :+-").startswith("Filter ")]
    assert filters
    assert not [f for f in filters if "regexp_replace" in f], filters


def test_rank_partials_one_rows_sized_exchange(spark):
    """The fused tail shuffles the rows-sized partials once, into the
    final aggregate; a local top-k cut per partition keeps at most 2·k
    rows per section, and only those survivors are re-partitioned, by
    (dim, section), for the exact ranks. A window keyed only by dim would
    sort the whole per-second dimension in one task at scale."""
    from nginx_log_spark.reports import reports as R

    partials = spark.createDataFrame(
        [(6, f"k{i}", 1, 10) for i in range(50)],
        "dim_id int, key0 string, cnt long, bytes long",
    )
    _assert_rank_tail_shape(plan(R._rank_partials(partials, 100)))


def test_bad_code_breakdown_reads_cut_ranking(spark, sf_dir):
    """The bad_code_breakdown view reads the fused tail's ranking, so it
    has its scale shape: a hot status's whole aggregate is cut per
    partition before the exact (status) window, never sorted in one task,
    and its subtotals are window sums of the cut's slice totals, not a
    broadcast aggregate (the view's own 1-row totals join is not part of
    the ranking)."""
    from nginx_log_spark.parity import parsed_log_df
    from nginx_log_spark.reports import reports as R

    parsed = parsed_log_df(spark, sf_dir).filter(F.col("valid"))
    _assert_rank_tail_shape(plan(R.all_reports(R.fused_reports(parsed, 10), 10)["bad_code_breakdown"]))


def test_connected_components_round_is_equi_join(spark):
    """Each label-propagation round must be an equi-join + groupBy-min on
    uniform keys — never a cartesian/nested-loop — and the per-round
    localCheckpoint keeps the lineage flat (the plan of the returned frame
    does not contain the full join tower)."""
    from nginx_log_spark.functions import neardup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40, 2)], "id_a long, id_b long"
    )
    out = neardup_components(pairs)
    p = plan(out)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # lineage cut: the returned plan scans checkpointed RDDs, not the
    # original createDataFrame roots repeated once per round
    assert p.count("ExistingRDD") >= 1


def test_unigram_lm_join_broadcasts_no_cartesian(spark, docs):
    """The LM score-side joins must be broadcast (vocab + two 1-row
    frames) and the vocab cap a TakeOrderedAndProject — never a sorted
    shuffle join or a nested-loop over the fact table."""
    from nginx_log_spark.functions import unigram_logprob_score

    p = plan(unigram_logprob_score(docs))
    # word-keyed vocab join: broadcast hash (the hint is explicit); the
    # 1-row total/floor frames are broadcast nested-loop, which is fine —
    # what must never appear is an unbroadcast cartesian product
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_source_quota_cap_two_phase_window(spark, docs):
    """Phase-1 window must partition by (source, id-hash bucket) — the
    bucketed pre-rank — so no single task sorts a hot source's full rows;
    phase 2's exact per-source window only sees the filtered survivors."""
    from nginx_log_spark.functions import source_quota_cap
    from nginx_log_spark.functions.textstats import quality_columns

    p = plan(
        source_quota_cap(
            docs, quality_columns(F.col("text"))["quality_score"], k=5, buckets=8
        )
    )
    assert "xxhash64" in p and "pmod" in p  # bucketed phase-1 partition key
    assert p.count("Window") >= 2  # pre-rank + exact rank
    assert "CartesianProduct" not in p


def test_parse_json_lines_stays_in_codegen(spark, docs):
    """The JSON source must be scan -> codegen'd projections only: no
    Python eval stage, no exchange, and column pruning reaching parquet."""
    from nginx_log_spark.parse.json_source import parse_json_lines

    p = plan(parse_json_lines(docs.select(F.col("text").alias("line"))))
    assert "from_json" in p
    assert "EvalPython" not in p
    assert "Exchange" not in p
    assert "ReadSchema: struct<text:string>" in p


def test_dsir_plan_broadcasts_and_take_ordered(spark, docs):
    """DSIR's scale contract: the word->log-ratio scoring join is a
    BROADCAST of the capped vocab (the corpus-sized side never shuffles
    for the join), and the final top-k is TakeOrderedAndProject, not a
    global sort."""
    from nginx_log_spark.functions import dsir_select

    out = dsir_select(docs, F.col("source") == "src0", k=50)
    p = plan(out)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    # no unbroadcast cartesian anywhere; the crossJoins against the 1-row
    # totals/oov aggregates plan as broadcast nested loops, which is the
    # intended (constant-size) shape
    assert "CartesianProduct" not in p


def test_top_fraction_gate_two_phase_window(spark, docs):
    """top_fraction_per_stratum must rank within (stratum, bucket) before
    the exact per-stratum window — two Window nodes, and the stratum-size
    lookup is a broadcast join."""
    from nginx_log_spark.functions import top_fraction_per_stratum

    out = top_fraction_per_stratum(
        docs, F.col("n_chars").cast("double"), 0.3, buckets=16
    )
    p = plan(out)
    assert p.count("Window") >= 2
    assert "BroadcastHashJoin" in p


def test_prefix_jaccard_is_equi_join_on_prefix(spark, docs):
    """Candidate generation must be an equi-join (on the prefix-shingle
    key), never a cartesian/nested-loop product."""
    from nginx_log_spark.functions import prefix_jaccard_pairs

    p = plan(prefix_jaccard_pairs(docs, shingle_k=5, threshold=0.7))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_prefix_jaccard_freq_head_joins_broadcast(spark, open_vocab_docs):
    """The relational path, taken by an open vocabulary (> 2^13 distinct
    shingles): the Zipf-head frequency annotation is BROADCAST joins (hot
    inner + the two anti-join exclusions) so the skewed shingle key never
    routes its row mass through one shuffle partition; each doc's shingles
    are ranked in a Window; the verify intersects xxhash64-recoded arrays
    (the recode is injective on this vocabulary) and uses no bitset."""
    from nginx_log_spark.functions import prefix_jaccard_pairs

    p = plan(prefix_jaccard_pairs(open_vocab_docs, shingle_k=5, threshold=0.7))
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "Window" in p, p
    assert "xxhash64" in p and "array_intersect" in p, p
    assert "bit_count" not in p, p
    assert "CartesianProduct" not in p


def test_prefix_jaccard_rank_bcast_path_no_window(spark, docs):
    """The in-row path, taken by the docs fixture (vocabulary <= 2^13):
    prefixes are computed in-row against the broadcast shingle order, so
    there is no rank Window and no shuffle of the exploded shingle stream
    before the candidate join; the per-doc rows are materialized once
    (ExistingRDD: they feed both self-join sides and the verify), and the
    verify is the popcount of the bitsets, never an array intersect."""
    from nginx_log_spark.functions import prefix_jaccard_pairs

    p = plan(prefix_jaccard_pairs(docs, shingle_k=5, threshold=0.7))
    assert "Window" not in p, p
    assert "ExistingRDD" in p, p
    assert "bit_count" in p and "array_intersect" not in p, p
    assert "CartesianProduct" not in p


def test_asof_join_single_window_no_range_join(spark, sf_dir):
    """The as-of join must be union + ONE carry-forward window — no
    range-condition join (which Spark can only execute as a nested-loop
    product) and no row multiplication."""
    from nginx_log_spark.functions import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "event_type",
    )
    out = asof_join(
        ev.filter(F.col("event_type") == "purchase").drop("event_type"),
        ev.filter(F.col("event_type") == "view").drop("event_type"),
        on=["user_id"], left_ts="us", value_cols=["event_id"],
    )
    p = plan(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p  # no join at all post-union
    # exactly ONE Window node (formatted output lists nodes twice:
    # tree + details — use the executed-plan tree instead)
    exe = out._jdf.queryExecution().executedPlan().toString()
    assert exe.count("Window") == 1
