"""The reference's aggregate reports: one fused ranking, many views.

The reference fills about ten hash tables in one pass (c/main.c:460-477)
and prints top-K tables from them (c/main.c:246-360). Here one fused job
does the same. Two front ends emit (dim, key) partials, and one tail,
``_rank_partials``, merges and ranks them:

- ``fused_reports_arrow`` reads a RAW column (``list<int32>`` tokens or
  text lines) and parses and partially aggregates each Arrow batch in one
  ``mapInArrow`` pass. The CLI (text, stdin and .parquet input), the
  graded ``log_*`` report queries and the benchmark rank through it.
- ``fused_reports`` reads an already PARSED frame and explodes it in the
  JVM. ``run_pipeline`` uses it over the parse it persists anyway.

So a raw column takes the Arrow kernel and a parsed frame the JVM front
end. On ``local[4]``, 100k perfbench zipf lines: from text the kernel took
1.10 s against 1.84 s for ``parse_lines`` (nine utf8 fields shipped back
to the JVM) + ``fused_reports``; over a persisted parsed frame
``fused_reports`` took 0.74 s against 0.96 s for parsing again in the
kernel. ``all_reports(fused, k)`` derives every report frame from either.

Scale notes (100 TB):
- the only rows-sized shuffle carries map-side-aggregated (dim, key)
  partials, never raw rows, into the final aggregate;
- the per-dim top-K is a local cut, then an exact merge: each partition
  of the final aggregate keeps its top k by count and by bytes of every
  (dim, section) slice, so the ranking's input is at most 2·k rows per
  section per partition, and no task sorts a whole dimension (the
  per-second time dim is near row-sized);
- section totals (header totals, per-code subtotals) are window sums of
  the per-partition slice totals the cut carries; nothing is broadcast;
- the views are filters and projections of the persisted fused result
  (about k rows per ranked section plus one row per hour), so the 11
  report frames cost one fused job;
- tie order: the reference's qsort is unstable (c/hash.c:173-200); we fix
  (cnt desc, key asc) as the canonical deterministic order (SURVEY.md §2.6).

``method_path_stats`` and ``error_burst_zscore`` are extension reports the
reference does not have; they are separate queries over the parsed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

TOP_K = 100  # c/main.c:252

# key column per report (c/main.c:499-513 print order)
REPORT_KEYS = {
    "top_ips": "remote_addr",
    "top_users": "remote_user",
    "top_xff": "http_x_forwarded_for",
    "top_requests": "request",
    "top_uas": "http_user_agent",
    "top_referers": "http_referer",
    "top_times": "time_local",
    "status_counts": "status",
}


# time: the reference groups the RAW time_local string (second granularity,
# c/main.c:462); the hourly dim is the north-star addition.

_TIME_FMT = "dd/MMM/yyyy:HH:mm:ss Z"


def time_local_to_ts(col):
    """'10/Oct/2000:13:55:36 +0000' -> timestamp, null if the string is not
    a calendar time (``try_``: under ANSI mode ``to_timestamp`` would fail
    the job on a valid line with, say, 31/Feb)."""
    return F.try_to_timestamp(col, F.lit(_TIME_FMT))


def error_burst_zscore(
    parsed: DataFrame,
    err_prefix: str = "5",
    lookback: int = 10,
    min_history: int = 5,
) -> DataFrame:
    """Per-minute server-error burst detector: z-score of each minute's
    5xx count against the TRAILING `lookback` minutes (frame excludes the
    current minute — the score is 'how surprising vs recent history').

    Telemetry addition beyond the reference (which only counts). Scale
    shape: one per-minute pre-aggregation (tiny output: 1440 rows/day),
    then a window PARTITIONED BY HOUR — frames are bounded and the window
    never sees one global partition; minutes at an hour boundary restart
    their history (documented trade for scale-safety).

    FP discipline: mean/variance are derived from INTEGER window sums
    (count, sum, sum-of-squares) with one fixed double expression, so any
    engine computing the same expression on the same integers agrees
    bit-for-bit — no order-dependent float accumulation.
    """
    ts = time_local_to_ts(F.col("time_local"))
    base = (
        parsed.withColumn("_ts", ts)
        .filter(F.col("_ts").isNotNull())
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("_ts")), "yyyy-MM-dd HH").alias("hour"),
            F.date_format(F.date_trunc("minute", F.col("_ts")), "yyyy-MM-dd HH:mm").alias("minute"),
        )
        .agg(
            F.sum(
                F.when(F.col("status").startswith(err_prefix), 1).otherwise(0)
            ).alias("err_cnt"),
            F.count(F.lit(1)).alias("hits"),
        )
    )
    w = W.partitionBy("hour").orderBy("minute").rowsBetween(-lookback, -1)
    n = F.count(F.lit(1)).over(w)
    s = F.sum("err_cnt").over(w)
    ss = F.sum(F.col("err_cnt") * F.col("err_cnt")).over(w)
    var = (ss - s * s / n) / (n - 1)
    z = F.round((F.col("err_cnt") - s / n) / F.sqrt(var), 6)
    return (
        base.select(
            "minute", "err_cnt", "hits",
            n.alias("n_hist"), s.alias("sum_hist"),
            var.alias("_var"), z.alias("z"),
        )
        .filter((F.col("n_hist") >= min_history) & (F.col("_var") > 0))
        .drop("_var")
    )


def method_path_stats(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top query-less URL paths by hits with bytes + 5xx counts — the
    request-line decomposition the reference never does (it keys the whole
    request line, c/main.c:463). Scan-speed split projection; top-K plans
    TakeOrderedAndProject."""
    arr = F.split(F.col("request"), " ")
    base = parsed.select(
        arr.getItem(0).alias("method"),
        F.split(arr.getItem(1), r"\?").getItem(0).alias("path"),
        "body_bytes_sent",
        F.when(F.col("status").startswith("5"), 1).otherwise(0).alias("e5"),
    )
    return (
        base.groupBy("method", "path")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.sum("body_bytes_sent").alias("bytes"),
            F.sum("e5").cast("long").alias("n_5xx"),
        )
        .orderBy(F.desc("hits"), F.asc("method"), F.asc("path"))
        .limit(k)
    )


_FUSED_DIMS = [
    "top_ips", "top_users", "top_xff", "top_requests", "top_uas",
    "top_referers", "top_times", "status_counts", "hourly", "bad_code",
]
# bad_code composite key: status ++ SEP ++ request. status is a digit run
# (3 digits under the C gate, c/main.c:433-437, any length with
# status_3digit=False), so the FIRST separator is the split point; the
# request may legally contain \x01 (any byte but the closing quote
# survives, c/main.c:104), so the split keeps everything after it.
_SEP = "\x01"


def fused_reports(parsed: DataFrame, k: int = TOP_K) -> DataFrame:
    """ALL count-style reports in ONE scan + ONE shuffle — the Spark
    restatement of the reference's fused multi-aggregate loop
    (c/main.c:460-477).

    Shape: posexplode over a 10-slot array<string> (dim = array position —
    structs in the explode triple string-copy garbage and anti-scale under
    GC pressure; measured 2.6x slower), then one groupBy(dim, key) with
    map-side partial agg (only ~10^4-10^5 aggregated keys shuffle), then
    the cut-and-rank tail of ``_rank_partials``. bytes_by_request needs no
    extra dim: the request dim already aggregates sum(bytes), ranked via
    rn_bytes.

    Output: (dim, key, key2, cnt, bytes, section_total, section_bytes,
    section_keys, rn, rn_bytes) — key2 = request within bad_code sections
    (key = status). Header totals ride along: section_total of any plain
    dim == total lines, section_bytes == total bytes, section_keys of
    top_ips == unique IPs (c/main.c:487-494). The hourly dim keeps every
    hour, not just the top k.
    """
    keys = [
        F.col("remote_addr"), F.col("remote_user"), F.col("http_x_forwarded_for"),
        F.col("request"), F.col("http_user_agent"), F.col("http_referer"),
        F.col("time_local"), F.col("status"),
        # hourly: UTC hour bucket, offset-aware (mixed timezone offsets
        # fold into the same UTC hour); unparseable -> null -> dropped by
        # the explode filter
        F.date_format(
            F.date_trunc("hour", time_local_to_ts(F.col("time_local"))),
            "yyyy-MM-dd HH",
        ),
        F.when(F.col("status") != "200",
               F.concat(F.col("status"), F.lit(_SEP), F.col("request"))),
    ]
    ex = parsed.select(
        F.posexplode(F.array(*keys)).alias("dim_id", "key0"),
        F.col("body_bytes_sent").alias("_b"),
    ).filter(F.col("key0").isNotNull())
    # row-level partials (cnt=1): _rank_partials' groupBy is then the ONE
    # partial+final aggregation, and its cut-then-rank top-K replaces the
    # single-task-per-dim window (see _rank_partials)
    partials = ex.select(
        "dim_id", "key0", F.lit(1).alias("cnt"), F.col("_b").alias("bytes")
    )
    return _rank_partials(partials, k)


def _rank_partials(agg: DataFrame, k: int) -> DataFrame:
    """Final agg + per-dim top-K ranking over (dim_id, key0, cnt, bytes)
    partials — shared tail of both fused implementations.

    Three steps, and only the first moves rows-sized data:

    1. the final ``groupBy(dim_id, key0)``: after its one exchange every
       key sits in exactly one partition with its exact sums; ``_sk`` is
       the section (the status of a bad_code key, null otherwise);
    2. a local cut per partition (``_top_k_cut``, one ``mapInArrow``)
       keeps each (dim, section) slice's top k by count and by bytes plus
       every hourly row, and puts the slice totals on the slice's rank-1
       row. Any global top-k row (by count OR by bytes) is top-k within
       its own partition's slice, so the survivors (at most 2·k per
       section per partition) contain both answers;
    3. exact ranks on the survivors: one window over (dim, section) gives
       ``rn``, ``rn_bytes`` and the section totals (the sums of the
       slices' totals: header totals and per-code subtotals,
       c/main.c:487-494, :326-331).

    No task sorts a whole dimension, which a window partitioned only by
    dim would do for the near-row-sized per-second time dim. The cut keeps
    the bytes top-k for EVERY dim, not just the request dim: a row kept
    only via one ranking can carry the other rank underestimated vs the
    full set, but never below k+1 — the global top-k of that ranking all
    survive and outrank it — so every ``rn <= k`` / ``rn_bytes <= k``
    consumer sees the rows and ranks of one window over the whole dim.

    The hourly dim is a full report, not a top-K one: its rows pass the
    cut (at most 8,760 hours a year, so the window stays small).
    """
    agg = agg.groupBy("dim_id", "key0").agg(
        F.sum("cnt").alias("cnt"), F.sum("bytes").alias("bytes")
    ).withColumn("_sk", F.when(F.col("dim_id") == 9, F.substring_index("key0", _SEP, 1)))
    cut = agg.mapInArrow(
        _top_k_cut(k),
        "dim_id int, key0 string, _sk string, cnt long, bytes long, _st long, _sb long, _sn long",
    )
    w = W.partitionBy("dim_id", "_sk")
    by_cnt = w.orderBy(F.desc("cnt"), F.asc("key0"))
    # the totals' whole-section frame on the count order: no third sort
    sect = by_cnt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    is_bad = F.col("dim_id") == 9
    bad = F.split(F.col("key0"), _SEP, 2)  # [status, request] (see _SEP note)
    return (
        cut.select(
            "dim_id", "key0", "cnt", "bytes",
            F.sum("_st").over(sect).alias("section_total"),
            F.sum("_sb").over(sect).alias("section_bytes"),
            F.sum("_sn").over(sect).alias("section_keys"),
            F.row_number().over(by_cnt).alias("rn"),
            F.row_number().over(w.orderBy(F.desc("bytes"), F.asc("key0"))).alias("rn_bytes"),
        )
        .filter(
            (F.col("rn") <= k)
            | ((F.col("dim_id") == 3) & (F.col("rn_bytes") <= k))
            | (F.col("dim_id") == 8)
        )
        .select(
            F.element_at(F.array(*[F.lit(d) for d in _FUSED_DIMS]), F.col("dim_id") + 1).alias("dim"),
            "dim_id",
            F.when(is_bad, bad[0]).otherwise(F.col("key0")).alias("key"),
            F.when(is_bad, bad[1]).alias("key2"),
            "cnt", "bytes", "section_total", "section_bytes", "section_keys", "rn", "rn_bytes",
        )
    )


def _top_k_cut(k: int):
    """``mapInArrow`` body of ``_rank_partials``' local cut.

    Over one partition of final-aggregated (dim_id, key0, cnt, bytes, _sk)
    rows: sort once by (slice, cnt desc, key0) and once by (slice, bytes
    desc, key0), where a slice is one (dim_id, _sk) pair, and keep the
    rows ranked at most k in either order, plus every hourly row. The
    slice's rank-1 row by count always survives and carries the slice's
    totals (_st, _sb, _sn: sum of cnt, sum of bytes, number of keys); the
    sums are null only when every summand is, as Spark's ``sum``. The
    orders are Spark's: descending puts nulls last, and strings compare
    bytewise.
    """

    def op(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = [b for b in batches if b.num_rows]  # an empty partition sends one
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        n = t.num_rows
        sk = pc.dictionary_encode(t.column("_sk").combine_chunks())
        dim = t.column("dim_id").to_numpy().astype(np.int64)
        slice_id = dim * (len(sk.dictionary) + 1) + pc.fill_null(sk.indices, -1).to_numpy() + 1
        s = pa.table({"s": slice_id, "cnt": t.column("cnt"), "bytes": t.column("bytes"),
                      "key0": t.column("key0")})

        def ranked(by):
            # row positions in (slice, by desc, key0) order, where each
            # slice starts in that order, and each position's 0-based rank
            order = pc.sort_indices(
                s, sort_keys=[("s", "ascending"), (by, "descending"), ("key0", "ascending")]
            ).to_numpy()
            ss = slice_id[order]
            first = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
            return order, first, np.arange(n) - np.repeat(first, np.diff(np.r_[first, n]))

        mask = dim == 8
        by_bytes, _, rank = ranked("bytes")
        mask[by_bytes[rank < k]] = True
        order, first, rank = ranked("cnt")
        mask[order[rank < k]] = True

        def slice_sum(name):
            col = t.column(name).combine_chunks()
            vals = pc.fill_null(col, 0).to_numpy()[order]
            some = np.logical_or.reduceat(col.is_valid().to_numpy(zero_copy_only=False)[order], first)
            return pa.array(np.add.reduceat(vals, first), pa.int64(), mask=~some)

        # each slice's totals, on its rank-1 row by count
        at = np.full(n, -1, np.int64)
        at[order[first]] = np.arange(len(first))
        head = pa.array(at, mask=at < 0)
        out = pa.table({
            "dim_id": t.column("dim_id"), "key0": t.column("key0"), "_sk": t.column("_sk"),
            "cnt": t.column("cnt"), "bytes": t.column("bytes"),
            "_st": slice_sum("cnt").take(head), "_sb": slice_sum("bytes").take(head),
            "_sn": pa.array(np.diff(np.r_[first, n]), pa.int64()).take(head),
        }).filter(pa.array(mask))
        yield from out.to_batches(max_chunksize=1 << 16)

    return op


# canonical combined-format time: 'dd/Mon/yyyy:HH:mm:ss +ZZZZ' (four
# captures: RE2's one-pass matcher takes at most 4, see arrow_parser)
_TIME_RE = (
    r"^(?P<dt>[0-9]{2}/[A-Za-z]{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2})"
    r" (?P<sign>[+-])(?P<oh>[0-9]{2})(?P<om>[0-9]{2})$"
)


def _hour_key_arrow(tl):
    """time_local utf8 array -> 'yyyy-MM-dd HH' UTC hour key, null where
    ``time_local_to_ts`` is null — the vectorized twin of the JVM hourly
    dim. Arrow's strptime rolls 31/Feb and seconds 60-61 over, so a parse
    whose day or second is not the string's is dropped, as is an offset
    the JVM rejects (minutes above 59, beyond ±18:00)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(tl, pa.ChunkedArray):
        tl = tl.combine_chunks()
    res = pc.extract_regex(tl, pattern=_TIME_RE)
    # non-matching rows null the STRUCT but not its children — mask fields
    ok = pc.is_valid(res)
    null_s = pa.scalar(None, pa.string())
    fld = lambda n: pc.if_else(ok, res.field(n), null_s)
    num = lambda a: pc.cast(a, pa.int64())
    dts = fld("dt")  # fixed width: day at [0, 2), second at [18, 20)
    dt = pc.strptime(dts, format="%d/%b/%Y:%H:%M:%S", unit="s", error_is_null=True)
    oh, om = num(fld("oh")), num(fld("om"))
    off_min = pc.add(pc.multiply(oh, 60), om)
    real = pc.and_(
        pc.and_(pc.equal(pc.day(dt), num(pc.utf8_slice_codeunits(dts, 0, 2))),
                pc.equal(pc.second(dt), num(pc.utf8_slice_codeunits(dts, 18, 20)))),
        pc.and_(pc.less_equal(om, 59), pc.less_equal(off_min, 18 * 60)),
    )
    off = pc.multiply(off_min, 60)
    off = pc.if_else(pc.equal(res.field("sign"), "-"), pc.negate(off), off)
    utc = pc.cast(pc.subtract(pc.cast(dt, pa.int64()), off), pa.timestamp("s"))
    utc = pc.if_else(real, utc, pa.scalar(None, pa.timestamp("s")))
    # format each distinct hour once: a batch spans few hours, many seconds
    hours = pc.dictionary_encode(pc.floor_temporal(utc, unit="hour"))
    return pc.take(pc.strftime(hours.dictionary, format="%Y-%m-%d %H"), hours.indices)


def fused_reports_arrow(
    seq: DataFrame, k: int = TOP_K, tokens_col: str = "tokens", status_3digit: bool = True
) -> DataFrame:
    """parse + per-partition partial aggregation fused into ONE mapInArrow
    pass — the literal Spark analogue of the reference's per-line
    multi-aggregate loop (c/main.c:407-478).

    The Python op parses each batch, aggregates per (dim, key) with
    pyarrow's C++ hash group-by and emits one partial table per input
    partition, so no parsed field crosses back to the JVM (the module
    docstring has the measured reason).

    Partial-size honesty (measured round 2): nine of the ten dims compress
    ~100x in the partial agg, but the per-SECOND time dim (the reference's
    请求时间统计, c/main.c:462) is near-unique within a partition whenever
    rows-per-partition < distinct-seconds-in-span, so its partials are
    ~rows-sized and dominate the merge shuffle. That shuffle is inherent to
    an EXACT per-second histogram on any distributed engine (the reference
    pays the same cost as one giant in-RAM table); it amortizes at 100 TB
    where the span saturates, and every other dim stays ~10^3 rows. It is
    the tail's only rows-sized exchange: ``_rank_partials`` cuts each
    merged partition to its per-section top k in a second ``mapInArrow``
    before anything else moves.

    Per batch the kernel groups nine dims by key. The hourly dim is not a
    tenth group-by over the rows: ``_hour_key_arrow`` runs on the distinct
    ``time_local`` keys of the per-second partial, whose (cnt, bytes) are
    then summed by hour. That is exact, because the hour is a function of
    the time string and the sums are integers; on a 62.5k-line zipf batch
    it parses about 1,200 strings instead of 62.5k. Only ``tokens_col``
    is sent to the kernel: each column it is sent costs Arrow IPC per row.

    Input: a raw column ``tokens_col``, ``list<int32>`` tokens or text
    lines (``_as_binary_lines``). Output: identical to fused_reports over
    the valid rows of ``parse_sequences(seq, tokens_col, status_3digit=...)``.
    """
    import pyarrow as pa

    from nginx_log_spark.parse.arrow_parser import _as_binary_lines, _parse_binary_lines

    def op(batches):
        import pyarrow.compute as pc

        null_s = pa.scalar(None, pa.string())
        parts: list[pa.Table] = []

        def add(dim_id, key, cnt, nbytes):
            parts.append(pa.table({
                "dim_id": pa.array([dim_id] * len(key), pa.int32()),
                "key0": key, "cnt": pc.cast(cnt, pa.int64()), "bytes": nbytes,
            }))

        for b in batches:
            parsed = _parse_binary_lines(_as_binary_lines(b.column(0)), status_3digit=status_3digit)
            valid = parsed["valid"]
            body = pc.if_else(valid, parsed["body_bytes_sent"], pa.scalar(None, pa.int64()))
            # _FUSED_DIMS order; the hourly dim 8 comes from dim 6's partial
            keys = {
                0: parsed["remote_addr"], 1: parsed["remote_user"],
                2: parsed["http_x_forwarded_for"], 3: parsed["request"],
                4: parsed["http_user_agent"], 5: parsed["http_referer"],
                6: parsed["time_local"], 7: parsed["status"],
                9: pc.if_else(
                    pc.and_kleene(valid, pc.not_equal(parsed["status"], "200")),
                    pc.binary_join_element_wise(parsed["status"], parsed["request"], _SEP),
                    null_s,
                ),
            }
            for dim_id, key in keys.items():
                key = pc.if_else(valid, key, null_s)
                t = pa.table({"key0": key, "b": body})
                g = t.group_by("key0").aggregate([("b", "sum"), ("b", "count")])
                g = g.filter(pc.is_valid(g.column("key0")))
                add(dim_id, g.column("key0"), g.column("b_count"), g.column("b_sum"))
                if dim_id == 6:  # exact: see the docstring
                    h = pa.table({
                        "key0": _hour_key_arrow(g.column("key0")),
                        "c": g.column("b_count"), "b": g.column("b_sum"),
                    }).group_by("key0").aggregate([("c", "sum"), ("b", "sum")])
                    h = h.filter(pc.is_valid(h.column("key0")))
                    add(8, h.column("key0"), h.column("c_sum"), h.column("b_sum"))
        if not parts:
            return
        merged = (
            pa.concat_tables(parts)
            .group_by(["dim_id", "key0"])
            .aggregate([("cnt", "sum"), ("bytes", "sum")])
        )
        out = pa.table(
            {
                "dim_id": merged.column("dim_id"),
                "key0": merged.column("key0"),
                "cnt": merged.column("cnt_sum"),
                "bytes": merged.column("bytes_sum"),
            }
        )
        for batch in out.to_batches(max_chunksize=1 << 20):
            yield batch

    partials = seq.select(tokens_col).mapInArrow(
        op, "dim_id int, key0 string, cnt long, bytes long"
    )
    return _rank_partials(partials, k)


def all_reports(fused: DataFrame, k: int = TOP_K) -> dict[str, DataFrame]:
    """The full report set as views of one fused result, ``fused``: the
    output of ``fused_reports_arrow`` over a raw column or of
    ``fused_reports`` over valid parsed rows (see the module docstring),
    ranked with at least this ``k``.

    ``fused.coalesce(1)`` is persisted lazily: the first view collected
    runs the fused job and the other views read its cached rows (so does
    a later ``fused.coalesce(1)`` — Spark's cache matches plans). Frames,
    columns and row order:

    - ``totals``: one row (total_lines, total_bytes_sent, unique_ips), from
      the top_ips section totals; (0, NULL, 0) on empty input
      (c/main.c:487-494);
    - the eight ``REPORT_KEYS`` frames: (key, cnt, pct) by rank;
    - ``bytes_by_request``: (request, bytes, pct) by the bytes rank
      (c/main.c:468, 280-321);
    - ``bad_code_sections``: (status, hits, pct of all lines) by status;
    - ``bad_code_breakdown``: (status, request, cnt, section_total,
      pct_of_section, section_pct_of_total) by (status, rank)
      (c/main.c:469-477, 323-360);
    - ``hourly_traffic``: (hour, hits, bytes) for every UTC hour, by hour.
    """
    # one partition: the result is small, and a single-partition cache
    # lets the sorted views sort in place instead of range-shuffling
    f = fused.coalesce(1).persist()
    dim = lambda name: f.filter(F.col("dim") == name)
    pct = lambda num, den: F.round(F.col(num) / F.col(den) * 100.0, 2)
    # a ranked row counts at least one line: line counts are non-null
    # columns, as count() types them
    count = lambda c: F.coalesce(F.col(c), F.lit(0))

    # every row of a dim carries its section totals; an empty input has no
    # rows, and the global aggregate still yields the one header row
    totals = dim("top_ips").agg(
        F.coalesce(F.max("section_total"), F.lit(0)).alias("total_lines"),
        F.max("section_bytes").alias("total_bytes_sent"),
        F.coalesce(F.max("section_keys"), F.lit(0)).alias("unique_ips"),
    )
    out = {"totals": totals}
    for name, key in REPORT_KEYS.items():
        out[name] = (
            dim(name).orderBy("rn").limit(k)
            .select(F.col("key").alias(key), count("cnt").alias("cnt"),
                    pct("cnt", "section_total").alias("pct"))
        )
    out["bytes_by_request"] = (
        dim("top_requests").orderBy("rn_bytes").limit(k)
        .select(F.col("key").alias("request"), "bytes",
                pct("bytes", "section_bytes").alias("pct"))
    )
    bad = dim("bad_code").crossJoin(totals.select(F.col("total_lines").alias("_tot")))
    out["bad_code_sections"] = (
        bad.filter(F.col("rn") == 1).orderBy("key")
        .select(F.col("key").alias("status"), count("section_total").alias("hits"),
                pct("section_total", "_tot").alias("pct"))
    )
    out["bad_code_breakdown"] = (
        bad.filter(F.col("rn") <= k).orderBy("key", "rn")
        .select(
            F.col("key").alias("status"), F.col("key2").alias("request"),
            count("cnt").alias("cnt"), "section_total",
            pct("cnt", "section_total").alias("pct_of_section"),
            pct("section_total", "_tot").alias("section_pct_of_total"),
        )
    )
    out["hourly_traffic"] = (
        dim("hourly")
        .select(F.to_timestamp("key", "yyyy-MM-dd HH").alias("hour"),
                count("cnt").alias("hits"), "bytes")
        .orderBy("hour")
    )
    return out
