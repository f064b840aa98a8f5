#!/usr/bin/env python
"""Dump `explain(formatted)` for the headline queries into PLANS.md — the
committed physical-plan evidence for the properties the 100 TB design
claims (pushdown, broadcast joins, partition pruning, two-level prefix
sums, no single-partition windows). tests/test_plans.py asserts the same
properties; this file is the human-readable artifact.
"""

from __future__ import annotations

import contextlib
import io
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    from pyspark.sql import functions as F

    from nginx_log_spark.enrich import default_cidr_table, enrich_geoip, enrich_ua
    from nginx_log_spark.functions import (
        lsh_ann_topk_prebucketed,
        lsh_candidate_pairs,
        minhash_signatures,
        pack_offsets,
        write_bucketed_embeddings,
    )
    from nginx_log_spark.cli import report_frames
    from nginx_log_spark.parity import events_with_log_columns, parsed_log_df
    from nginx_log_spark.parse import parse_tier_stats
    from nginx_log_spark.reports.reports import fused_reports_arrow
    from nginx_log_spark.session import get_spark

    spark = get_spark(app="nls-plans", master="local[4]", shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    seq = events_with_log_columns(spark, SF).select("doc_id", "tokens", "n_tok")
    sections.append((
        "full_report_job (fused parse + 10-dim partial agg + cut-then-rank top-K)",
        "One mapInArrow pass, sent only the raw column, emits per-partition "
        "partials only; they shuffle once, into the final aggregate "
        "(hashpartitioning(dim_id, key0)); a second mapInArrow cuts each "
        "partition to its per-section top k and slice totals; the exact ranks "
        "and section totals are one window on (dim_id, _sk) over the "
        "survivors; no BroadcastExchange and no single-partition Sort over "
        "the data. The graded log_* report queries are views of this plan.",
        plan(fused_reports_arrow(seq)),
    ))

    log = Path(tempfile.mkdtemp(prefix="nls_plans_")) / "access.log"
    log.write_text("\n".join(
        f'10.0.0.{i} - - [10/Oct/2000:13:55:36 +0000] "GET /{i} HTTP/1.1" 200 {i} "-" "u" "-"'
        for i in range(100)
    ) + "\n")
    fused, rejects, _ = report_frames(spark, str(log))
    sections.append((
        "CLI over a text log (report + reject echo)",
        "The report is the same kernel over the text scan's line column "
        "(widened round-robin when the scan is narrow), no JVM explode "
        "(Generate); the echo is a second, valid-only mapInArrow sent only "
        "(line, pos), returning (line, pos, valid).",
        plan(fused) + "\n\n" + plan(rejects),
    ))

    sections.append((
        "parse_tier_stats (tier telemetry)",
        "An aggregate of the parser's per-row tier: one mapInArrow, sent "
        "only the raw column and returning only the int8 tier (the "
        "valid-only boolean match kernel plus the exact tier over its "
        "misses), under one global aggregate; no kernel of its own.",
        plan(parse_tier_stats(seq)),
    ))

    parsed = parsed_log_df(spark, SF).filter(F.col("valid"))
    sections.append((
        "enrich_geoip -> enrich_ua (CIDR + UA classification)",
        "Both joins are BroadcastHashJoin on the fact side — the 100 TB "
        "table never shuffles for enrichment; the UA classifier is a "
        "codegen'd CASE expression, no join at all.",
        plan(enrich_ua(enrich_geoip(parsed, default_cidr_table(), spark=spark))),
    ))

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    idx = tempfile.mkdtemp(prefix="nls_plans_") + "/emb"
    write_bucketed_embeddings(embs, idx, dims=len(q), n_planes=4)
    sections.append((
        "lsh_ann_topk_prebucketed (ANN over the materialized index)",
        "The probe IN-list is a PartitionFilters entry on the parquet scan "
        "— Spark prunes every unprobed bucket's files at planning time; "
        "the top-k is TakeOrderedAndProject (bounded heap, no global sort).",
        plan(lsh_ann_topk_prebucketed(spark, idx, q, k=10, n_planes=4, probe_bits=1)),
    ))

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, n_hashes=8, shingle_k=5)
    sections.append((
        "lsh_candidate_pairs (banded MinHash join)",
        "The self-join is an equi-join on (band_idx, band_key) — never a "
        "CartesianProduct/BroadcastNestedLoopJoin; degenerate buckets are "
        "capped before the join.",
        plan(lsh_candidate_pairs(sigs, band_size=4, max_bucket=100)),
    ))

    pk = spark.range(100000).select(
        F.col("id"), F.lit(1).alias("n_tok"), F.array(F.lit(1)).alias("tokens")
    )
    sections.append((
        "pack_offsets (two-level global prefix sum)",
        "Exactly ONE SinglePartition exchange — the #buckets-row cumsum "
        "frame — broadcast back; the data itself shuffles once by bucket "
        "and sorts per-bucket in parallel.",
        plan(pack_offsets(pk, "id", F.expr("id div 1000"), 512)),
    ))

    from nginx_log_spark.functions import unigram_logprob_score

    sections.append((
        "unigram_logprob_score (corpus-LM perplexity proxy)",
        "The vocab cap is a TakeOrderedAndProject over <= |vocab| count "
        "rows; every score-side join is a BroadcastHashJoin (vocab) or a "
        "1-row BroadcastNestedLoopJoin (total / OOV-floor scalars) — the "
        "exploded fact table never shuffles until the final by-doc "
        "aggregation on uniform ids. Per-word log-probs are fixed-pointed "
        "to BIGINT so the integer sums are partition-order independent.",
        plan(unigram_logprob_score(docs)),
    ))

    from nginx_log_spark.functions import source_quota_cap, trigram_backoff_score
    from nginx_log_spark.parse.json_source import parse_json_lines
    from nginx_log_spark.functions.textstats import quality_columns

    sections.append((
        "trigram_backoff_score (stupid-backoff LM)",
        "All three model tables (tri/bi/uni, each a TakeOrderedAndProject "
        "frequency cap) reach the trigram fact as BroadcastHashJoins; the "
        "backoff chain is a coalesce of integer adds, and the fact shuffles "
        "only for the final by-doc HashAggregate.",
        plan(trigram_backoff_score(docs)),
    ))

    sections.append((
        "source_quota_cap (domain cap, two-phase rank)",
        "Two Window+Sort pairs: the first partitions by (source, "
        "pmod(xxhash64(id))) — buckets-way parallel per key — and filters "
        "to local top-k; only the <= buckets*k survivors reach the exact "
        "per-source window. No single task ever sorts a hot domain's full "
        "row set.",
        plan(source_quota_cap(docs, quality_columns(F.col("text"))["quality_score"], k=5, buckets=8)),
    ))

    sections.append((
        "parse_json_lines (JSON log source)",
        "from_json + struct projection stays entirely inside "
        "WholeStageCodegen — no Python stage, no shuffle; a corrupt line "
        "becomes a null struct so reject detection is free.",
        plan(parse_json_lines(docs.select(F.col("text").alias("line")))),
    ))

    from nginx_log_spark.functions import token_entropy_e6
    from nginx_log_spark.route import bucketed_join, write_bucketed

    sections.append((
        "token_entropy_e6 (per-doc token entropy)",
        "The whole run-length entropy chain is one codegen'd Project over "
        "the token arrays — no Exchange, no Python stage; only the ~100-"
        "bucket histogram aggregates.",
        plan(seq.select(token_entropy_e6().alias("e6"))),
    ))

    left = docs.select("doc_id", "source", "n_chars")
    right = docs.select("doc_id", F.length("text").alias("n_text"))
    write_bucketed(left, "plans_docs_meta", "doc_id", n_buckets=8)
    write_bucketed(right, "plans_docs_len", "doc_id", n_buckets=8)
    old_abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append((
        "bucketed_join (co-located fact/enrichment join)",
        "Both scans expose the table bucketing (SelectedBucketsCount), so "
        "the SortMergeJoin has NO Exchange on either side — the write-time "
        "shuffle is amortized over every later doc_id-wise join/agg; on "
        "Iceberg the same property comes from a bucket partition transform.",
        plan(bucketed_join(spark, "plans_docs_meta", "plans_docs_len", "doc_id")),
    ))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_abt)
    spark.sql("DROP TABLE IF EXISTS plans_docs_meta")
    spark.sql("DROP TABLE IF EXISTS plans_docs_len")

    from nginx_log_spark.functions import (
        chunk_windows,
        dsir_select,
        incremental_dedup,
        top_fraction_per_stratum,
    )

    hist = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("digest")
    )
    write_bucketed(hist.distinct(), "plans_digest_idx", "digest", n_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append((
        "incremental_dedup (ingest batch vs bucketed digest index)",
        "The corpus digest index scan exposes its bucketing (Bucketed: "
        "true) and feeds the LeftAnti SortMergeJoin with NO Exchange on "
        "the index side — only the (much smaller) ingest batch shuffles "
        "into the index's clustering. The 10^12-row corpus itself is "
        "never read at all: 16 bytes/doc of digests is the only history.",
        plan(
            incremental_dedup(
                docs.filter(F.col("doc_id") % 5 == 0),
                spark.table("plans_digest_idx"),
            )
        ),
    ))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_abt)
    spark.sql("DROP TABLE IF EXISTS plans_digest_idx")

    sections.append((
        "dsir_select (importance resampling toward a target domain)",
        "Both unigram models come from ONE conditional-agg pass over the "
        "exploded words; the capped log-ratio table reaches the scoring "
        "side as a BroadcastHashJoin; the 1-row totals/OOV scalars are "
        "broadcast nested loops; the final Gumbel-top-k is "
        "TakeOrderedAndProject. The pool never shuffles except the by-doc "
        "integer-sum aggregation on uniform ids.",
        plan(dsir_select(docs, F.col("source") == "src0", k=50)),
    ))

    sections.append((
        "top_fraction_per_stratum (adaptive top-q% quality gate)",
        "The stratum sizes are an O(|strata|) aggregate broadcast back "
        "(BroadcastHashJoin); ranking is the repo's two-phase bucketed "
        "window — (stratum, pmod(xxhash64(id))) first, exact stratum "
        "window over survivors only.",
        plan(
            top_fraction_per_stratum(
                docs, quality_columns(F.col("text"))["quality_score"], 0.4, buckets=8
            )
        ),
    ))

    from nginx_log_spark.functions import nb_fit, nb_score

    nb_model, nb_priors = nb_fit(docs, label_col="source", dims=256)
    sections.append((
        "nb_score (trained NB classifier apply)",
        "The dense |labels| x dims model and the priors reach the per-doc "
        "term frequencies as BroadcastHashJoins (the model is corpus-size-"
        "independent by construction); token-less docs are detected by a "
        "scan-speed filter and unioned in with a 1-row "
        "BroadcastNestedLoopJoin of the prior argmax — completeness never "
        "joins the full doc-id set. The fact table shuffles only for its "
        "two uniform-doc-key HashAggregates — no window, no global sort, "
        "no Python stage.",
        plan(nb_score(docs, nb_model, nb_priors, dims=256)),
    ))

    sections.append((
        "chunk_windows (RAG overlapping windows)",
        "Pure Project + Generate (explode) — no Exchange anywhere, no "
        "Python stage: chunking a 100 TB corpus is scan-speed and "
        "preserves the input partitioning.",
        plan(chunk_windows(seq, window=128, stride=96)),
    ))

    from nginx_log_spark.functions import asof_join, prefix_jaccard_pairs

    sections.append((
        "prefix_jaccard_pairs, in-row path (vocabulary <= 2^13)",
        "The docs fixture's vocabulary is small, so each doc ranks its "
        "shingles in-row against the broadcast global order (df asc, "
        "shingle asc) and emits one row: its prefix array and its shingle "
        "set as a bitset. That row set is materialized once (Scan "
        "ExistingRDD) and feeds both sides of the candidate equi-join, "
        "whose prefix is exploded in the JVM (Generate), and the verify, "
        "which is the popcount (bit_count) of the ANDed bitsets. No Window, "
        "no shuffle of the exploded shingle stream, no CartesianProduct.",
        plan(prefix_jaccard_pairs(docs, shingle_k=5, threshold=0.7)),
    ))
    # 260 pseudo-random letters per doc: > 2^13 distinct shingles
    open_vocab = docs.withColumn("text", F.concat_ws(" ", "text", F.expr(
        "concat_ws('', transform(sequence(1, 260), i -> substring("
        "'abcdefghijklmnopqrstuvwxyz', cast(pmod(xxhash64(text, i), 26) as int) + 1, 1)))"
    )))
    sections.append((
        "prefix_jaccard_pairs, relational path (vocabulary > 2^13)",
        "An open vocabulary: the frequency annotation routes the 4096 most "
        "frequent shingles through BROADCAST hash joins (hot inner + the "
        "two anti-join exclusions, feeding the pre-window union), so a "
        "shingle present in most documents never lands its row mass in "
        "one shuffle partition; only the tail takes a shuffle join. A "
        "Window over doc ids ranks each doc's shingles; candidate "
        "generation equi-joins on prefix shingles only; the verify "
        "intersects xxhash64-recoded shingle arrays (array_intersect), a "
        "|candidates|-bounded Project. No CartesianProduct.",
        plan(prefix_jaccard_pairs(open_vocab, shingle_k=5, threshold=0.7)),
    ))

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "event_type",
    )
    sections.append((
        "asof_join (point-in-time lookup, carry-forward window)",
        "One union + one shuffle on the join key feeding a single Window "
        "with last(ignorenulls) — no range-condition join, so no "
        "CartesianProduct/BroadcastNestedLoopJoin and zero row "
        "multiplication; null-key right rows are dropped up front (SQL "
        "equality semantics + no all-NULLs hot partition).",
        plan(
            asof_join(
                ev.filter(F.col("event_type") == "purchase").drop("event_type"),
                ev.filter(F.col("event_type") == "view").drop("event_type"),
                on=["user_id"], left_ts="us", value_cols=["event_id"],
            )
        ),
    ))

    out = ["# PLANS — physical-plan evidence (generated by tools/plans.py)\n"]
    out.append(
        "Each section: the claim the 100 TB design makes, then the actual\n"
        "`explain(formatted)` output at sf0.001 (same plan shape at any\n"
        "scale — only statistics change). tests/test_plans.py asserts these\n"
        "properties so refactors can't silently regress them.\n"
    )
    for title, claim, p in sections:
        out.append(f"\n## {title}\n\n{claim}\n\n```\n{p}\n```\n")
    (REPO / "PLANS.md").write_text("".join(out))
    print(f"wrote PLANS.md ({sum(len(s[2]) for s in sections)} plan chars)")
    spark.stop()


if __name__ == "__main__":
    main()
