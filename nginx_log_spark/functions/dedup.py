"""Deduplication operators for training-data pipelines.

Five tiers, all shuffle-architected for 10^9+ documents:

- exact:      groupBy(md5(text)) — the shuffle key is a uniform digest, so
              no skew regardless of content distribution.
- minhash+LSH: k-shingles -> per-permutation min of md5(shingle||salt) ->
              band keys -> candidate pairs via equi-join on band. Only
              bucket-mates ever meet; no O(n^2) compare.
- simhash:    16-bit sign-sum sketch; hamming-close docs collide.
- n-gram Jaccard: shingle explode + pair join, exact similarity on the
              LSH candidates (or small sets).
- embedding near-dup lives in similarity.py (cosine).

md5 is used as the hash family everywhere (deterministic, collision-safe
for dedup purposes, and available verbatim in DuckDB for oracle parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nginx_log_spark.functions._parallel import ensure_parallelism


def _norm(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact (normalized) text.

    Shuffle: one groupBy on md5(text) — uniform 128-bit keys, skew-free.
    Returns (digest, keep_id, n_dupes).
    """
    return (
        df.select(F.md5(_norm(F.col(text_col))).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def shingles_expr(text_col: str, k: int) -> Column:
    """Distinct character k-shingles of the normalized text (native SQL).

    NB: only reference PRE-PROJECTED columns here — an inline
    regexp_replace inside the transform lambda would be recomputed per
    array element (O(len^2) regex work). Use with_shingles() instead when
    building plans."""
    norm = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({norm}) - {k} + 1, 1)), "
        f"i -> substring({norm}, i, {k})))"
    )


def with_shingles(df: DataFrame, text_col: str, k: int, out_col: str = "_sh") -> DataFrame:
    """Project normalized text ONCE, then shingle it — the lambda references
    the materialized column, so the normalization regex runs once per row,
    not once per array element.

    Explode the result with ``explode_outer``: a plain ``explode`` lets
    Spark infer ``size(_sh) > 0`` and push it below the ``_nrm``
    projection, which inlines the regex into the shingle lambda again
    (19.3 s against 2.0 s at sf0.1). The array is never empty, so the two
    explodes give the same rows."""
    return (
        df.withColumn("_nrm", _norm(F.col(text_col)))
        .withColumn(
            out_col,
            F.expr(
                f"array_distinct(transform(sequence(1, greatest(length(_nrm) - {k} + 1, 1)), "
                f"i -> substring(_nrm, i, {k})))"
            ),
        )
        .drop("_nrm")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 5,
    hash_fn: str = "md5_sliced",
) -> DataFrame:
    """(id, minhash_0..n-1): per 'permutation' i, min over shingles of
    hash(shingle, salt i) — distinct salts approximate independent uniform
    permutations; the min is a valid MinHash. Pure JVM; shuffle-free
    except the tiny-input fan-out guard (a no-op on multi-split inputs).

    hash_fn:
    - 'md5_sliced' (default): each md5 digest yields FOUR independent
      32-bit hashes (disjoint 8-hex-char slices, compared as fixed-width
      hex strings — lexicographic min == numeric min), so n_hashes costs
      ceil(n/4) md5 calls per shingle instead of n. Measured ~15-20%
      faster end-to-end at sf0.1 (shingle construction, not md5, dominates
      this corpus; the md5 saving grows with doc length) and its candidate
      sets are tighter than whole-digest string minhash. Reproducible
      verbatim in DuckDB substr(md5(..)) — the driver-oracle path.
    - 'md5': legacy one-digest-per-permutation string minhash.
    - 'xxhash64': Spark's native codegen'd hash — no digest string
      materialized at all; same LSH semantics, the 100 TB fast path.
    """
    # fan-out guard: a one-row-group corpus file plans as ONE scan task,
    # which would serialize the whole shingle+hash computation; no-op on
    # any real multi-split input (see _parallel.ensure_parallelism)
    out = with_shingles(
        ensure_parallelism(df.select(id_col, text_col)), text_col, shingle_k
    ).select(F.col(id_col), F.col("_sh"))

    # NB: one-arg lambdas only — pyspark dispatches on lambda arity, so a
    # captured `i=i` default would become the array-index lambda variable.
    def salted(i: int):
        if hash_fn == "xxhash64":
            return lambda s: F.xxhash64(s, F.lit(i))
        return lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))

    if hash_fn == "md5_sliced":
        # NB: a fully-fused single aggregate fold (shingles -> digest
        # structs -> one pass of 8 leasts) was measured SLOWER than these
        # per-permutation traversals: higher-order-function lambdas are
        # interpreted, and per-element struct allocation in the fold costs
        # more than the extra cheap array passes it saves.
        def group_md5(g: int):
            return lambda s: F.md5(F.concat(s, F.lit(f"#g{g}")))

        def slice32(j: int):
            # fixed-width hex: lexicographic min == numeric min, no conv()
            return lambda h: F.substring(h, j * 8 + 1, 8)

        for g in range((n_hashes + 3) // 4):
            out = out.withColumn(f"_hx{g}", F.transform(F.col("_sh"), group_md5(g)))
        for i in range(n_hashes):
            g, j = divmod(i, 4)
            out = out.withColumn(
                f"minhash_{i}", F.array_min(F.transform(F.col(f"_hx{g}"), slice32(j)))
            )
        return out.drop("_sh", *[f"_hx{g}" for g in range((n_hashes + 3) // 4)])

    for i in range(n_hashes):
        out = out.withColumn(
            f"minhash_{i}", F.array_min(F.transform(F.col("_sh"), salted(i)))
        )
    return out.drop("_sh")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, equi-join on (band_idx, band_key), emit a<b pairs.

    The join key is a digest concat — uniform for dissimilar docs; only
    same-bucket docs are ever paired (the whole point of LSH).

    ``max_bucket``: drop buckets with more members than this before the
    self-join. A bucket of size B contributes B^2 candidate pairs, so one
    degenerate band key (boilerplate corpora, near-constant fields) turns
    LSH into an accidental cross join at scale; oversized buckets are
    non-discriminative by definition and standard practice is to skip them."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                # concat_ws so long (xxhash64) and string (md5) signatures
                # both band correctly; '#' keeps the key injective
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"minhash_{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = sigs.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )
    # The banded rows feed up to four plan subtrees (bucket-size agg, the
    # semi-join probe, and BOTH sides of the self-join) — Catalyst cannot
    # share one exchange across them, so without materialization the full
    # upstream signature computation (shingle + hash over the corpus text)
    # re-runs per subtree (measured 3-4x the one-pass cost). The banded
    # frame is a lightweight proxy — (id, band_idx, band_key), a few tens
    # of bytes per doc regardless of doc length — so storing it once and
    # joining on the stored blocks is the guide's "shuffle keys, not
    # payloads" shape; blocks are freed by the ContextCleaner with the
    # result frame.
    exploded = exploded.localCheckpoint(eager=True)
    if max_bucket is not None:
        small = (
            exploded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
        exploded = exploded.join(small, ["band_idx", "band_key"], "left_semi")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over whitespace words: bit b = sign of sum over words
    of (bit b of md5(word) ? +1 : -1). Explode-free: conv() the first 4 hex
    chars per word once, then 16 aggregate() passes over the small array."""
    words = F.split(_norm(F.col(text_col)), " ")
    hashed = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("long"))
    out = df.select(F.col(id_col), hashed.alias("_h"))

    def bit_sum(b: int):  # two-arg lambda only (see minhash note on arity)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for b in range(16):
        s = F.aggregate(F.col("_h"), F.lit(0), bit_sum(b))
        bit_cols.append(F.when(s > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**b))
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return out.select(F.col(id_col), total.cast("int").alias("simhash"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash — the production-width sketch (the 16-bit variant's
    2^16 value space saturates around 10^5 docs; 64 bits keeps random
    collisions negligible at 10^9+). Same construction as simhash16: bit b
    = sign of the sum over words of ±1 from bit b of the word's hash; the
    word hash is the first 64 bits of md5(word) read as two 32-bit hex
    slices. Bit 63 lands on the long's sign bit — the sum of disjoint bit
    values still reproduces the exact two's-complement pattern, and the
    DuckDB oracle mirrors it with the MIN_BIGINT literal (DuckDB raises on
    1<<63). Pure JVM expressions, no shuffle."""
    words = F.split(_norm(F.col(text_col)), " ")
    lo = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"))
    hi = F.transform(words, lambda w: F.conv(F.substring(F.md5(w), 9, 8), 16, 10).cast("long"))
    out = df.select(F.col(id_col), lo.alias("_lo"), hi.alias("_hi"))

    def bit_sum(b: int):  # two-arg lambda only (see minhash note on arity)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    total = F.lit(0).cast("long")
    for b in range(64):
        src, bb = ("_lo", b) if b < 32 else ("_hi", b - 32)
        s = F.aggregate(F.col(src), F.lit(0), bit_sum(bb))
        if b == 63:
            vb = F.lit(-(2**63)).cast("long")
        else:
            vb = F.lit(1 << b).cast("long")
        total = total + F.when(s > 0, vb).otherwise(F.lit(0).cast("long"))
    return out.select(F.col(id_col), total.alias("simhash64"))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash-16 Hamming distance <= max_hamming.

    Banded candidate join: the 16-bit sketch splits into n_bands contiguous
    bands; candidates meet only on an equal (band_idx, band_val) key. For
    max_hamming < n_bands this is EXACT (pigeonhole: d differing bits touch
    at most d bands, so some band survives intact), so the xor-popcount
    filter afterwards loses nothing vs the O(n^2) all-pairs scan.

    Scale shape: the join key is a (band, 4-bit value) pair — at most
    n_bands * 2^(16/n_bands) distinct keys. That is deliberately coarse: a
    64-bucket band key over 10^9 docs makes bucket-local joins enormous, so
    at 100 TB widen the sketch (simhash64 with the same construction) AND
    set ``max_bucket`` (same degenerate-bucket guard as
    lsh_candidate_pairs: a bucket of size B contributes B^2 pairs, and
    dropping an oversized bucket only loses pairs that still share one of
    the other n_bands-1 bands unless ALL their shared bands are oversized).
    Exactness holds only with max_bucket=None. Output columns
    (id_a, id_b, hamming), id_a < id_b.
    """
    bits = 16 // n_bands
    sigs = simhash16(df, text_col, id_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * bits)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    ex = sigs.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        id_col, "simhash", "b.band_idx", "b.band_val"
    )
    if max_bucket is not None:
        small = (
            ex.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
        ex = ex.join(small, ["band_idx", "band_val"], "left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(_sa ^ _sb)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard for an explicit candidate-pair list.

    The |pairs|-bounded verify stage of the LSH pipeline: join each pair to
    its two shingle SETS and compute |A∩B| / |A∪B| with the JVM
    array_intersect — no shingle explode, no self-join, cost strictly
    O(|pairs| * doc_len). Returns (id_a, id_b, jaccard) at >= threshold.
    """
    sh = with_shingles(df.select(id_col, text_col), text_col, shingle_k).select(
        F.col(id_col), F.col("_sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    common = F.size(F.array_intersect("_sa", "_sb"))
    jac = F.round(common / (F.size("_sa") + F.size("_sb") - common), 6)
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_keep(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Dedup retention: given verified duplicate pairs (id_a < id_b), drop
    every doc that appears as the LARGER side of any pair; keep the rest.

    This is the greedy local-minimum rule — 1-hop, deterministic, and a
    single left-anti join on uniform ids (no iteration). It keeps every
    node with no smaller-id neighbor, so a component can retain MORE than
    one representative (e.g. edges (1,5),(2,5): both 1 and 2 survive).
    For exactly one representative per duplicate cluster use
    neardup_components + dedup_keep_components — the iterative
    connected-components pass (the standard LSH-dedup trade, cf. the
    MinHash dedup literature)."""
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, [id_col], "left_anti")


def neardup_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 15,
) -> DataFrame:
    """Connected components over verified duplicate pairs via min-label
    propagation WITH POINTER JUMPING: every node starts labelled with its
    own id; each round a node takes the min of its and its neighbours'
    labels, then compresses lbl(u) := lbl(lbl(u)) (the label is always a
    node id of the same component, so the jump stays in-component). The
    jump doubles the propagation horizon per round, so convergence is
    O(log diameter) rounds — BOUNDED even on adversarial path graphs,
    the same guarantee class as large-star/small-star contraction —
    instead of O(diameter) for plain hop propagation. At fixpoint the
    label is the component's global minimum id. Returns (node, component).

    Scale shape: each round is one equi-join edges->labels + one
    groupBy(node).min + one labels self-join (all uniform node keys, no
    single-partition step); labels are localCheckpoint'ed per round so
    the plan lineage stays flat instead of growing exponentially.
    max_rounds=15 covers component diameters ~2^13; convergence is
    CHECKED (one small action per round) and non-convergence raises
    rather than returning a partial clustering."""
    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u").agg(F.min("lbl").alias("_nlbl"))
        )
        stepped = labels.join(nbr, labels.node == nbr.u, "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("_nlbl", "lbl")).alias("lbl"),
        )
        # pointer jump: lbl(u) := lbl(lbl(u)). Every label is a node id in
        # u's component (it entered the table as some node's own id), so
        # the looked-up label exists and stays in-component; labels only
        # decrease, so the fixpoint (= component min everywhere) is
        # unchanged — the jump just reaches it exponentially faster.
        jump = stepped.select(
            F.col("node").alias("_jnode"), F.col("lbl").alias("_jlbl")
        )
        new = (
            stepped.join(jump, stepped.lbl == jump._jnode, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("_jlbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels.select("node", F.col("lbl").alias("component"))
    raise ValueError(
        f"neardup_components: no fixpoint after {max_rounds} rounds — "
        "component diameter exceeds the bound; raise max_rounds or use a "
        "star-contraction variant"
    )


def dedup_keep_components(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Dedup retention with EXACTLY one representative per duplicate
    cluster: connected components over the verified pairs, keep each
    component's minimum id (plus every doc in no pair) — one left-anti
    join against the non-representative labels."""
    labels = neardup_components(pairs)
    non_rep = labels.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(non_rep, [id_col], "left_anti")


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Gopher-style repetition detector: the fraction of a doc's k-char
    grams that are duplicates (1 - distinct/total). High values flag
    boilerplate / templated / looping text for quality filtering. All JVM
    expressions — scan-speed over 100 TB, no shuffle at all. ``keep_cols``
    passes input columns through, so a profile query can chain further
    projections over the SAME scan instead of joining back."""
    out = (
        df.withColumn("_nrm", _norm(F.col(text_col)))
        .withColumn("_total", F.greatest(F.length("_nrm") - (k - 1), F.lit(0)))
        .withColumn(
            "_grams",
            F.expr(
                f"transform(sequence(1, greatest(length(_nrm) - {k - 1}, 1)), "
                f"i -> substring(_nrm, i, {k}))"
            ),
        )
        .withColumn(
            "_distinct",
            F.when(F.col("_total") > 0, F.size(F.array_distinct("_grams"))).otherwise(
                F.lit(0)
            ),
        )
    )
    dup = F.when(
        F.col("_total") > 0,
        F.round((F.col("_total") - F.col("_distinct")) / F.col("_total"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        *(keep_cols or []),
        F.col("_total").cast("long").alias("n_grams"),
        F.col("_distinct").cast("long").alias("n_distinct_grams"),
        dup.alias("dup_gram_frac"),
    )


def split_contamination(
    train: DataFrame,
    val: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Train/val decontamination: val docs sharing >=1 normalized k-gram
    with ANY train doc, with the count of shared (distinct) grams.

    Scale shape: both sides reduce to DISTINCT gram sets before the join —
    a left-semi equi-join on uniform gram keys, never a doc x doc
    comparison; the train side is a set, so its size is bounded by corpus
    vocabulary, not corpus length."""
    tg = (
        with_shingles(ensure_parallelism(train.select(text_col)), text_col, k)
        .select(F.explode_outer("_sh").alias("_g"))
        .distinct()
    )
    vg = with_shingles(
        ensure_parallelism(val.select(id_col, text_col)), text_col, k
    ).select(F.col(id_col), F.explode_outer("_sh").alias("_g"))
    return (
        vg.join(tg, "_g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >=1 shingle.

    explode(shingles) -> self equi-join on shingle -> count common ->
    |A∪B| = |A|+|B|-common. Scale note: feed this the LSH candidates, not
    the raw corpus, when n is large — the shingle join is |pairs|-bounded.

    ``max_df``: drop shingles whose DOCUMENT FREQUENCY exceeds this before
    the self-join. A stop-shingle shared by all N docs contributes N^2/2
    join rows — the same accidental-cross-join failure mode lsh's
    max_bucket guards; a shingle in >max_df docs is non-discriminative.
    NB: exact Jaccard is only preserved for pairs whose shared shingles are
    all below the cap; with max_df set, treat the result as a high-recall
    candidate score (standard practice for boilerplate-heavy corpora)."""
    sh = with_shingles(df.select(id_col, text_col), text_col, shingle_k).select(
        F.col(id_col), F.col("_sh")
    )
    sizes = sh.select(id_col, F.size("_sh").alias("_n"))
    ex = sh.select(id_col, F.explode_outer("_sh").alias("_s"))
    if max_df is not None:
        rare = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
        ex = ex.join(rare, "_s", "left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("n_b"))
    # threshold on the UNROUNDED ratio; round(.., 6) only on the emitted
    # column — filtering on the rounded value would admit pairs whose true
    # J sits in [t - 5e-7, t) (rounds up across the boundary), making the
    # result depend on display precision rather than the predicate J >= t
    raw = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


# prefix_jaccard_pairs picks its path by the corpus vocabulary (distinct
# shingles). Measured on the sf0.1 docs (5,000 docs, 1.02M shingle rows,
# vocabulary 2,041) at t=0.7, 4 cores: in-row ranking + bitset verify
# 11-16 s; the same prefixes verified by array intersect 18-21 s; the
# relational path 20-25 s. Up to _INROW_VOCAB_MAX a doc's bitset is at most
# 128 longs (1 KB) and the broadcast rank dict is small; above it only the
# relational path is used.
_INROW_VOCAB_MAX = 1 << 13
# Relational path: the most frequent shingles are annotated by a broadcast
# join, so no stop-shingle sends its whole row mass to one shuffle
# partition. Without it the same inputs took 49-66 s instead of 20-25 s.
_FREQ_HEAD = 4096


def _inrow_prefix_masks(
    sh: DataFrame, freq: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """One row per doc: ``_n`` (size of its shingle set), ``_pre`` (its
    prefix, shingles in the global order) and ``_mask`` (its shingle set
    as a bitset of int64 words).

    The global (df asc, shingle asc) order is built once on the driver
    from the collected frequency table (callers bound it by
    _INROW_VOCAB_MAX) and broadcast as shingle -> position. The position
    is both the sort key of the in-row ranking and the shingle's bit: a
    bijection vocabulary -> [0, |V|), so the popcount verify is exact with
    no hashing. The prefix length is the same IEEE-double floor(t*n) + 1
    the relational path computes."""
    import pyarrow as pa

    order = sorted(freq.collect(), key=lambda r: (r["_df"], r["_s"]))
    bc = sh.sparkSession.sparkContext.broadcast(
        {r["_s"]: i for i, r in enumerate(order)}
    )
    n_words = (len(order) + 63) >> 6
    thr = float(threshold)

    def op(batches):
        pos = bc.value
        for b in batches:
            out_n, out_pre, out_mask = [], [], []
            for arr in b.column("_sh").to_pylist():
                n = len(arr)
                arr.sort(key=pos.__getitem__)
                m = [0] * n_words
                for s in arr:
                    j = pos[s]
                    m[j >> 6] |= 1 << (j & 63)
                out_n.append(n)
                out_pre.append(arr[: min(n - int(thr * n) + 1, n)])
                # int64 wrap for bit 63 (Spark longs are signed)
                out_mask.append([w - (1 << 64) if w >= (1 << 63) else w for w in m])
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    pa.array(out_n, pa.int32()),
                    pa.array(out_pre, pa.list_(pa.string())),
                    pa.array(out_mask, pa.list_(pa.int64())),
                ],
                [id_col, "_n", "_pre", "_mask"],
            )

    id_ddl = dict(sh.dtypes)[id_col]
    return sh.mapInArrow(
        op, f"{id_col} {id_ddl}, _n int, _pre array<string>, _mask array<bigint>"
    )


def _relational_prefix(
    ex: DataFrame, freq: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Prefix rows (id, _n, _s, _rk) by annotating every exploded shingle
    with its df and ranking each doc's shingles in a window. The
    _FREQ_HEAD most frequent shingles (df desc, shingle asc; a bounded
    collect) are annotated map-side through a broadcast; only the tail,
    whose every key has at most the head's smallest df, takes a shuffle
    join."""
    from pyspark.sql import Window

    head_rows = freq.orderBy(F.desc("_df"), F.asc("_s")).limit(_FREQ_HEAD).collect()
    head = ex.sparkSession.createDataFrame(
        [(r["_s"], r["_df"]) for r in head_rows], "_s string, _df long"
    )
    hot = ex.join(F.broadcast(head), "_s")
    tail_freq = freq.join(F.broadcast(head.select("_s")), "_s", "left_anti")
    cold = ex.join(F.broadcast(head.select("_s")), "_s", "left_anti").join(tail_freq, "_s")
    ranked = hot.unionByName(cold).withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("_s"))),
    )
    return ranked.filter(
        F.col("_rk") <= F.col("_n") - F.floor(F.lit(threshold) * F.col("_n")) + 1
    ).select(id_col, "_n", "_s", "_rk")


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard pairs at >= threshold via PREFIX FILTERING
    (the all-pairs similarity join of Bayardo et al., WWW 2007 / the
    PPJoin family) — the same result set as ngram_jaccard_pairs' full
    shingle self-join, with quadratically less join work.

    Both this function and ngram_jaccard_pairs threshold on the UNROUNDED
    Jaccard and round only the emitted column, so the identity between
    them is exact even for a pair whose true J sits within 5e-7 of t.

    Why it is exact: J(A,B) >= t implies |A∩B| >= t*|A| (and t*|B|), so
    under ANY global total order on shingles a qualifying pair must share
    at least one shingle among the first |d| - ceil(t*|d|) + 1 shingles
    of EACH side — if both prefixes were disjoint from the intersection,
    the intersection would have to fit entirely in the suffixes, which
    are too short. We order by (document frequency asc, shingle asc), so
    prefixes hold each doc's RAREST shingles and stop-shingle buckets
    ("the ", " and ") never form candidates unless they are genuinely
    rare. The prefix length uses floor instead of ceil (one extra indexed
    shingle when t*|d| is fractional): float rounding in t*|d| can only
    ever LENGTHEN the prefix, never shorten it below the exactness bound.

    Two further EXACT (never-false-prune) filters run before the verify,
    both PPJoin-standard (Xiao et al., WWW 2008):

    - length filter: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
      (|A∩B| <= min, |A∪B| >= max), applied inside the candidate join.
    - positional filter: per-doc ranks under the SAME global order are
      order-consistent, so for a candidate pair every shared shingle that
      globally precedes the LAST prefix-to-prefix match lies inside both
      prefixes — i.e. it IS one of the cm counted matches (had it escaped
      a prefix its rank would exceed the prefix bound, contradicting that
      it precedes a match inside that prefix). Shared shingles can
      therefore only exceed cm past rank max_ra in A and max_rb in B:
      |A∩B| <= cm + min(|A| - max_ra, |B| - max_rb). Pairs whose bound
      cannot reach the overlap t/(1+t)*(|A|+|B|) required by J >= t are
      dropped before any set is shipped; the comparison keeps a 1e-9
      slack toward KEEPING, so float rounding can only admit extra
      candidates for the exact verify to reject.

    The shingle table and its (shingle -> df) table are materialized once
    (localCheckpoint); one count of the latter picks the path:

    - In-row (vocabulary <= _INROW_VOCAB_MAX = 2^13). The vocabulary is
      collected (bounded by that count), ordered once on the driver and
      broadcast; each doc ranks its own shingles in one Python pass that
      also emits its shingle set as a bitset (_inrow_prefix_masks), and
      the verify is |A∩B| = sum of bit_count(maskA AND maskB). No
      shuffle of the exploded shingle stream, no window. Measured reason:
      the whole call is 1.3-1.6x faster than with an array-intersect
      verify of the same prefixes, and 1.5-1.8x faster than the relational
      path (sf0.1 docs, 4 cores). Removable when the relational path
      matches it on small vocabularies.
    - Relational (larger vocabularies, no driver-side vocabulary). The
      frequency annotation broadcasts the most frequent shingles
      (_relational_prefix), a window over doc ids ranks each doc's
      shingles, and the verify intersects the docs' shingle arrays
      recoded as xxhash64 longs (2.6x faster on the verify stage than
      intersecting the strings, measured on a 32-core box). The recode is exact: it is used only after an aggregate
      over the vocabulary shows xxhash64 is injective on it; on a
      collision the strings are intersected instead. This is the only
      path for vocabularies too large to broadcast, so it stays as long
      as such inputs are accepted.

    Both paths verify on the UNROUNDED ratio common / (|A| + |B| - common)
    with int sizes, the same expression as ngram_jaccard_pairs, so the
    emitted jaccard is bit-identical across paths. The verify joins carry
    no broadcast hint: adaptive execution broadcasts the per-doc side
    when it is small.

    Scale shape: one explode + vocab-sized groupBy for frequencies, an
    equi-join on prefix shingles only (~(1-t) of the original volume,
    rare-first), and a |candidates|-bounded verify. No all-pairs step."""
    # a null text shingles to [null], which joins nothing (as in
    # ngram_jaccard_pairs) but cannot be ordered against strings in-row
    docs = df.select(id_col, text_col).filter(F.col(text_col).isNotNull())
    # fan-out guard for tiny single-split corpora (no-op at scale): the
    # shingling below otherwise runs in ONE scan task
    sh = (
        with_shingles(ensure_parallelism(docs), text_col, shingle_k)
        .select(F.col(id_col), F.col("_sh"))
        .localCheckpoint(eager=True)
    )
    ex = sh.select(id_col, F.size("_sh").alias("_n"), F.explode("_sh").alias("_s"))
    freq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df")).localCheckpoint(eager=True)
    if freq.count() <= _INROW_VOCAB_MAX:
        # one stored row per doc feeds both self-join sides and the verify
        rows = _inrow_prefix_masks(sh, freq, id_col, threshold).localCheckpoint(eager=True)
        prefix = rows.select(
            id_col, "_n", F.posexplode("_pre").alias("_rk", "_s")
        ).withColumn("_rk", F.col("_rk") + 1)
        sets = rows.select(id_col, "_n", F.col("_mask").alias("_v"))

        def overlap(a, b):
            return F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
                F.lit(0),
                lambda acc, v: acc + v,
            )
    else:
        prefix = _relational_prefix(ex, freq, id_col, threshold)
        n_coll = freq.agg(
            (F.count(F.lit(1)) - F.countDistinct(F.xxhash64("_s"))).alias("c")
        ).first()["c"]
        v = F.col("_sh")
        if n_coll == 0:
            v = F.transform("_sh", lambda s: F.xxhash64(s))
        sets = sh.select(id_col, F.size("_sh").alias("_n"), v.alias("_v"))

        def overlap(a, b):
            return F.size(F.array_intersect(a, b))

    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("_n").alias("_na"),
        F.col("_rk").alias("_ra"), "_s",
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"),
        F.col("_rk").alias("_rb"), "_s",
    )
    matches = a.join(b, ["_s"]).filter(
        (F.col("id_a") < F.col("id_b"))
        # length filter: exact necessary condition of J >= t (1e-9 slack
        # toward keeping so t*max rounding up can never false-prune)
        & (F.least("_na", "_nb") >= threshold * F.greatest("_na", "_nb") - 1e-9)
    )
    cands = (
        matches.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_cm"),
            F.max("_ra").alias("_mra"),
            F.max("_rb").alias("_mrb"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
        # positional filter: overlap upper bound vs required overlap
        .filter(
            F.col("_cm")
            + F.least(F.col("_na") - F.col("_mra"), F.col("_nb") - F.col("_mrb"))
            >= threshold / (1.0 + threshold) * (F.col("_na") + F.col("_nb")) - 1e-9
        )
        .select("id_a", "id_b")
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("_n").alias("_na"), F.col("_v").alias("_va")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"), F.col("_v").alias("_vb")
    )
    common = overlap(F.col("_va"), F.col("_vb"))
    # verify on the UNROUNDED ratio; round(.., 6) only shapes the output
    raw = common / (F.col("_na") + F.col("_nb") - common)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW ingest batch against an already-deduped corpus WITHOUT
    rescanning the corpus — the only exact-dedup shape that works at
    10^12 rows with daily ingest. ``seen_digests`` is the corpus's digest
    index (column ``digest``, one md5 per retained doc: 16 bytes/doc, the
    only corpus-derived state this op ever reads). Two steps, both
    batch-sized: (1) intra-batch min-id keep per digest (same rule as
    exact_dedup, so re-running a batch is idempotent), (2) one left-anti
    join against the index. Returns the kept rows of ``new_df`` with
    their ``digest`` column — exactly what gets appended to the index, so
    the index stays the running union of retained digests.

    Scale shape: the batch is orders of magnitude smaller than the index,
    and the index lives digest-BUCKETED on disk (route/bucketed.py /
    Iceberg bucket transform) — the anti-join then shuffles ONLY the
    batch's digests into the index's clustering; the 10^12-row corpus
    itself is never touched (plan-asserted in tests/test_plans.py).
    On top of that, Spark's runtime Bloom-filter injection
    (spark.sql.optimizer.runtime.bloomFilter.enabled, on by default and
    in this repo's session) builds a Bloom of the small batch side at run
    time and prunes the index scan with it once the index side exceeds
    the 10 GiB application threshold — index rows whose digest can't be
    in the batch never reach the join, and false positives only cost
    reads, never a wrong keep/drop.
    """
    dig = new_df.withColumn("digest", F.md5(_norm(F.col(text_col))))
    keep = (
        dig.groupBy("digest").agg(F.min(id_col).alias(id_col))
        .join(dig, ["digest", id_col])
    )
    return keep.join(
        seen_digests.select("digest").distinct(), "digest", "left_anti"
    )
