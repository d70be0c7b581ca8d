"""Deduplication operators over a documents table.

All of these run entirely JVM-side (higher-order functions + hash
built-ins — zero Python in the data path) and are shaped for 100 TB:

* exact        — hash-groupBy on a content digest (one shuffle of digests,
                 never of full texts).
* MinHash+LSH  — shingle -> k minhashes -> b bands -> bucket join.
                 Candidate generation shuffles only (band_hash, id) pairs;
                 the quadratic blowup is confined to same-bucket groups.
* SimHash      — 64-bit signed-bit-aggregate fingerprint; near-dup
                 candidates via 16-bit chunk banding (Hamming<=3 guarantee).
* n-gram Jaccard — exact verification on candidate pairs only.
* embedding cosine — see ops/similarity.py (near_duplicates_by_embedding).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame, functions as F

# --------------------------------------------------------------- tokenizing


def _drop_null_text(df: DataFrame, text_col: str) -> DataFrame:
    """The shared NULL-text contract of every content-dedup operator:
    a NULL text is identical to nothing and near nothing (md5(NULL) is
    NULL; its shingle set is empty) — rows with NULL text never enter
    digest groups or candidate generation."""
    return df.filter(F.col(text_col).isNotNull())


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, lowercased, empty-safe."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (JVM-side: sequence + slice + concat)."""
    toks = tokens_col(text)
    k = F.size(toks)
    return F.array_distinct(
        F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# ------------------------------------------------------------------- exact


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_ids: int = 100,
) -> DataFrame:
    """Groups of byte-identical texts: digest, group size, member ids.

    Only (digest, id) pairs shuffle — at 10^12 docs the full text never
    moves. md5 keeps the digest oracle-comparable; swap for xxhash64 when
    cross-engine parity is not needed.

    ``ids`` is capped at ``max_ids`` members (sorted, so the cap is
    deterministic): a degenerate all-identical corpus would otherwise
    build one row holding every id. ``n_copies`` stays exact — the
    CONTRACT for detecting truncation is ``n_copies > size(ids)``
    (consumers must not assume ``ids`` is exhaustive). The transform
    variant (``distinct_by_content``) is list-free entirely.

    NULL texts are never duplicates of each other (md5(NULL) is NULL and
    would otherwise collapse every null-text row into one fake group).
    """
    return (
        _drop_null_text(df, text_col)
        .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.slice(F.sort_array(F.collect_list(id_col)), 1, max_ids).alias("ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def distinct_by_content(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct content — the actual
    dedup transform. Window-free: groupBy digest + semi-join back.

    NULL-text rows all pass through untouched: md5(NULL) is NULL, which
    would otherwise group every null-text row as one "duplicate" and
    silently delete all but one of them."""
    keep = (
        _drop_null_text(df, text_col)
        .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
    )
    kept = df.join(keep.select(id_col), on=id_col, how="left_semi")
    return kept.unionAll(df.filter(F.col(text_col).isNull()))


# ------------------------------------------------------------- MinHash+LSH
#
# Expression-sharing note: Catalyst's CollapseProject inlines a projected
# expression into every downstream use — 64 hash lanes each rebuilding the
# shingle array turned signature computation O(64x) slower (measured 230s
# for 5k docs before the fix, ~2s after). `_barrier` materializes an
# expression as a Generate (explode) output attribute, which downstream
# projections reference instead of re-evaluating.


def _barrier(df: DataFrame, expr: Column, name: str) -> DataFrame:
    """Materialize ``expr`` once per row as column ``name`` via an
    explode(array(...)) Generate barrier (exempt from CollapseProject)."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def _assert_staging_free(df: DataFrame, *names: str) -> None:
    """Refuse to stage through internal column names the caller's
    DataFrame already carries — silently clobbering (or an ambiguous
    reference deep in a parser pipeline) is strictly worse than an
    upfront error naming the conflict."""
    clash = sorted(set(names) & set(df.columns))
    if clash:
        raise ValueError(
            "input DataFrame already has internal staging column(s) "
            f"{clash}; rename them before calling this parser"
        )


def _ensure_parallelism(
    df: DataFrame, min_parts: int | None = None, keys: tuple = ()
) -> DataFrame:
    """Spread compute-heavy HOF stages across cores: higher-order-function
    folds evaluate interpreted and inherit the SCAN's parallelism, so a
    small single-row-group file puts an entire shingle/hash pipeline in
    one task (measured 10s -> ~1s for minhash candidates at sf0.1).
    No-op whenever the scan already has enough partitions — always true
    for a 100 TB table — so at scale this never adds a shuffle.

    Pass ``keys`` (a high-cardinality column, normally the row id) when
    one exists: hash repartitioning skips the local sort every KEYLESS
    round-robin exchange pays (spark.sql.execution.sortBeforeRepartition,
    on by default so retried tasks reproduce their row assignment — a
    hash key is retry-deterministic for free) — measured 6.7s vs 3.2s
    for a 6M-row aggregate at the r9 10x replica."""
    if df.isStreaming:
        return df  # stream parallelism comes from the source
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        if keys:
            return df.repartition(min_parts, *[F.col(k) for k in keys])
        return df.repartition(min_parts)
    return df


def minhash_signature(
    sh: Column, num_hashes: int = 64, seed: int = 42, method: str = "xxhash64"
) -> Column:
    """k-permutation MinHash signature from a shingle-array column.
    Pass an ATTRIBUTE (barrier-materialized) shingle column — passing a
    raw shingles_col expression rebuilds it once per hash lane.

    ``method='xxhash64'`` (default, the scale path): for each seed i, min
    over shingles of xxhash64(shingle, i) -> array<long>.
    ``method='md5'`` (the oracle path): min over shingles of the 16-hex
    prefix of md5('<seed+i>:' || shingle) -> array<string>; lexicographic
    min of fixed-width lowercase hex == numeric min, and any engine with
    md5 (e.g. the DuckDB driver oracle) reproduces it bit-for-bit."""
    # NB: lane closures, not `lambda s, i=i`: F.transform treats a
    # two-parameter lambda as (element, index) and would shadow i with
    # the array-index column, silently collapsing every lane to one hash
    if method == "md5":
        # one md5 yields 128 bits = four 8-hex-char (32-bit) lanes, so
        # ceil(k/4) md5 calls per shingle instead of k; the running mins
        # fold in ONE traversal with the md5 array as a bound lambda
        # variable (evaluated once per shingle — HOF lambdas get no
        # common-subexpression elimination). Lane i reads hex chars
        # [8*(i%4)+1, +8) of md5('<seed + i//4>:' || shingle); the DuckDB
        # oracle replays exactly this. Lexicographic min of fixed-width
        # lowercase hex == numeric min.
        n_md5 = (num_hashes + 3) // 4
        per_shingle = F.transform(
            sh,
            lambda s: F.array(
                *[F.md5(F.concat(F.lit(f"{seed + j}:"), s)) for j in range(n_md5)]
            ),
        )

        def lanes_of(x: Column) -> Column:
            return F.array(
                *[
                    F.substring(x[i // 4], 8 * (i % 4) + 1, 8)
                    for i in range(num_hashes)
                ]
            )

        return F.aggregate(
            per_shingle,
            F.array_repeat(F.lit("g"), num_hashes),  # 'g' > any hex char
            lambda acc, x: F.zip_with(acc, lanes_of(x), lambda a, b: F.least(a, b)),
        )

    def xx_lane(i: int) -> Column:
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(seed + i))))

    return F.array(*[xx_lane(i) for i in range(num_hashes)])


def lsh_bands(
    signature: Column, bands: int, rows_per_band: int, method: str = "xxhash64"
) -> Column:
    """array<struct<band:int, bucket>> — one bucket key per band slice.
    xxhash64 method re-hashes the slice to a fixed-width long (the scale
    shape: narrow shuffle keys); md5 method concatenates the slice's hex
    minhashes verbatim so any engine reproduces the bucket key."""
    if method == "md5":
        def bucket_of(b: Column) -> Column:
            return F.concat_ws(
                "", F.slice(signature, b * rows_per_band + 1, rows_per_band)
            )
    else:
        def bucket_of(b: Column) -> Column:
            return F.xxhash64(
                F.concat_ws(",", F.transform(
                    F.slice(signature, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                )),
                b,
            )

    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            bucket_of(b).alias("bucket"),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from LSH banding.

    Scale shape: explode to (band, bucket, id) — a narrow table — then
    self-join per bucket. Buckets are tiny for honest thresholds, so the
    join output stays near-linear; a groupBy-size guard drops degenerate
    buckets (>64 members) the way production LSH dedup pipelines cap
    bucket fanout.
    """
    rows_per_band = num_hashes // bands
    # barrier after each expensive stage: shingles built once, signature
    # built once, THEN sliced into bands
    shingled = _barrier(
        _ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), keys=(id_col,)),
        shingles_col(F.col(text_col), shingle_n),
        "_sh",
    )
    signed = _barrier(
        shingled.select(id_col, "_sh"),
        minhash_signature(F.col("_sh"), num_hashes, seed, method),
        "_sig",
    )
    banded = (
        signed.select(
            F.col(id_col),
            F.explode(lsh_bands(F.col("_sig"), bands, rows_per_band, method)).alias("bb"),
        )
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    sized = banded.groupBy("band", "bucket").agg(
        F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("n")
    ).filter((F.col("n") > 1) & (F.col("n") <= 64))
    pairs = sized.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(F.col("ids"), lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")).distinct()
    return pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    restrict: bool = True,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard for given (id_a, id_b) pairs —
    verification stage after LSH candidate generation.

    r9, ``restrict=True`` (the LSH-pipeline shape): verification only
    needs shingles of ids that APPEAR in a pair — the candidate set,
    orders of magnitude below the corpus at scale — so the corpus is
    semi-join-restricted before shingling, and the restricted shingle
    table is materialized once (eager, GC-cleaned localCheckpoint): the
    a/b join branches otherwise re-execute the whole shingle pipeline
    per side, and ``pairs``' own candidate lineage would re-run for the
    restriction without its checkpoint. ``restrict=False`` skips both
    materializations — for callers whose ``pairs`` is a cheap
    construction covering (nearly) every id, e.g. the bounded all-pairs
    oracle, where the checkpoint is pure overhead and the semi-join
    filters nothing."""
    if restrict:
        pairs = pairs.localCheckpoint()
        need = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionAll(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = df.select(F.col(id_col), F.col(text_col)).join(
            need, id_col, "semi"
        )
    else:
        base = df.select(F.col(id_col), F.col(text_col))
    sh = _barrier(
        _ensure_parallelism(base, keys=(id_col,)),
        shingles_col(F.col(text_col), shingle_n),
        "sh",
    )
    if restrict:
        sh = sh.localCheckpoint()
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # explicit repartition: the pairs table is tiny in BYTES but heavy in
    # per-row COMPUTE (array_intersect over shingle sets), so AQE's
    # byte-based coalescing would squash it into one task — user-specified
    # numPartitions is exempt from AQE coalescing
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = pairs.repartition(n_part, "id_a")
    j = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / F.greatest(F.col("n_union"), F.lit(1)), 6),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "n_union", "jaccard"
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kw,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard >= threshold.

    NULL texts are excluded up front (a null is a near-duplicate of
    nothing; its empty shingle set would otherwise pair every null-text
    row with every other) — same contract as the DuckDB oracle replica
    and exact_duplicates.
    """
    df = _drop_null_text(df, text_col)
    cands = minhash_lsh_candidates(df, text_col, id_col, **lsh_kw)
    n = lsh_kw.get("shingle_n", 3)
    return jaccard_pairs(df, cands, text_col, id_col, n, threshold)


# ----------------------------------------------------------------- SimHash


def _simhash_sig(text: Column, nbits: int, token_hash) -> Column:
    """SimHash of whitespace tokens, entirely with higher-order functions:
    per token, ``token_hash`` bits vote +1/-1 per position; the signature
    takes the sign of each accumulated position. ``nbits`` usable sign
    bits are folded into a non-negative long."""
    toks = tokens_col(text)
    # hash each token ONCE into an array, then derive bit votes from the
    # bound lambda variable: HOF lambdas get no common-subexpression
    # elimination, so `token_hash(t)` referenced 60x inside the vote
    # array would be EVALUATED 60x per token (measured 36s -> 2s for the
    # md5 variant at sf0.1)
    hashes = F.transform(toks, lambda t: token_hash(t))

    # per-token bit-vote arrays (bit positions unrolled: shiftright needs a
    # literal count), then one zip_with-sum aggregate over tokens
    def bit_votes(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
                for j in range(nbits)
            ]
        )

    votes = F.aggregate(
        F.transform(hashes, bit_votes),
        F.array_repeat(F.lit(0), nbits),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, b: a + b),
    )
    # fold sign bits into a long. The fold MUST reference `votes` exactly
    # once: an nbits-term sum of element_at(votes, j) inlines the whole
    # token aggregate nbits times (measured 385s for 5k docs; ~6s this
    # way). zip_with against a literal powers-of-two array traverses
    # votes once.
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(nbits)])
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, pw: F.when(v > 0, pw).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash64(text: Column) -> Column:
    """63-usable-bit SimHash from xxhash64 token hashes — the scale
    default (bit 63 omitted so the fingerprint stays non-negative)."""
    return _simhash_sig(text, 63, F.xxhash64)


def simhash60_md5(text: Column) -> Column:
    """60-bit SimHash from the 15-hex-char prefix of md5(token) — the
    oracle-comparable variant: any engine with md5 reproduces the token
    hash (conv hex->long stays in whole-stage codegen), so the full
    near-dup pipeline is replayable in the DuckDB driver oracle."""
    return _simhash_sig(
        text,
        60,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates: equal chunk of the SimHash in any of 4
    positions (pigeonhole: catches all pairs with Hamming distance <= 3).
    ``method='md5'`` uses the 60-bit oracle-comparable signature with
    15-bit chunks; the default 64-bit signature uses 16-bit chunks."""
    if method == "md5":
        sig_col, chunk_bits = simhash60_md5(F.col(text_col)), 15
    else:
        sig_col, chunk_bits = simhash64(F.col(text_col)), 16
    mask = (1 << chunk_bits) - 1
    # barrier: without it, CollapseProject inlines the (large) simhash
    # expression into all four chunk projections -> 5x evaluation
    sh = _barrier(
        _ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), keys=(id_col,)), sig_col, "sim"
    ).select(id_col, "sim")
    chunks = sh.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select(id_col, "sim", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("sim").alias("sim_a"), "chunk", "val")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("sim").alias("sim_b"), "chunk", "val")
    pairs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    method: str = "xxhash64",
) -> DataFrame:
    # NULL texts excluded: same contract as minhash_near_duplicates
    df = _drop_null_text(df, text_col)
    return simhash_candidates(df, text_col, id_col, method).filter(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------------------------- C4-style unit dedup


def dedup_units_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    method: str = "xxhash64",
) -> DataFrame:
    """C4-style GLOBAL unit deduplication: split every document into
    units (lines/paragraphs by ``sep``), keep exactly one occurrence of
    each distinct unit corpus-wide — the earliest (id, position) — and
    reconstruct documents from their surviving units (C4's "discarded all
    but one of any three-sentence span" family, simplified to exact unit
    identity).

    Scale shape: only (unit_hash, id, pos) triples shuffle — unit TEXT
    never moves; winners resolve with one groupBy-min; reconstruction is
    a semi-join back + one groupBy(id) with an in-group sort of (pos,
    unit) structs. ``method='md5'`` hashes units with md5 so the DuckDB
    driver oracle replays the pipeline exactly.
    """
    h = (lambda c: F.md5(c)) if method == "md5" else (lambda c: F.xxhash64(c))
    # F.split takes a REGEX; sep is a LITERAL separator everywhere else in
    # this function (concat_ws, the oracle), so quote it — otherwise
    # sep='.' splits on every character and corrupts the corpus
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    units = _ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col)), keys=(id_col,)
    ).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), quoted)).alias("pos", "unit"),
    )
    keyed = units.select(
        id_col, "pos", "unit", h(F.col("unit")).alias("_h")
    )
    winners = keyed.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("w")
    ).select("_h", F.col("w.i").alias(id_col), F.col("w.p").alias("pos"))
    kept = keyed.join(winners, ["_h", id_col, "pos"], "left_semi")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("unit")))
            ).alias("us")
        )
        .select(
            id_col,
            F.concat_ws(sep, F.transform(F.col("us"), lambda u: u["unit"])).alias(
                text_col
            ),
            F.size("us").alias("n_units"),
        )
    )


# ------------------------------------------------- near-dup cluster forming


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over (verified) near-duplicate pairs ->
    ``(doc_id, cluster_rep)`` with rep = min id in the component — the
    step that turns pairwise near-dup output into dedup GROUPS (keep one
    representative per cluster, drop the rest).

    Algorithm: min-label propagation WITH pointer jumping. Every round
    each node adopts the minimum label among itself and its neighbors,
    then additionally jumps to its label's label (label(u) <-
    label(label(u))) — the jump halves remaining chain depth every
    round, so convergence is O(log diameter): ``max_iter=20`` covers
    components ~2^20 hops deep, far beyond any real near-dup graph
    (overwhelmingly tiny cliques and short chains). Each round runs
    exactly ONE Spark action: the changed-label count doubles as the
    materialization of a LAZY ``localCheckpoint()`` (which truncates
    lineage so the plan does not grow across rounds) — a separate
    convergence probe per round would double the per-round job count,
    pure scheduling overhead on a cold cluster. Exhausting ``max_iter``
    without convergence warns loudly instead of returning
    silently-partial clusters.

    Scale shape per round: two shuffle joins on node id + one
    partial-agg min — all over the PAIR GRAPH only, which at 10^12 docs
    is the near-duplicate subset, orders of magnitude below the corpus.
    """
    import warnings

    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionAll(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .localCheckpoint()
    )
    # r9 size-adaptive switch (the broadcast-join pattern applied to
    # components): a near-dup graph that fits the driver comfortably —
    # the overwhelmingly common case even at corpus scale, because the
    # EDGE set is the near-duplicate subset — resolves in one collect +
    # union-find instead of O(log diameter) rounds of 3 joins + a count
    # each (~1 s of pure scheduling per round on tiny frames; measured
    # 3.6 s for a 652-edge graph). Same result by construction: rep =
    # min id per connected component, one row per edge endpoint.
    # Graphs past the bound take the distributed rounds unchanged.
    n_edges = edges.count()  # edges is checkpointed: a cheap cached count
    if n_edges <= driver_max_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            u, v = row["u"], row["v"]
            for n_ in (u, v):
                if n_ not in parent:
                    parent[n_] = n_
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        rep: dict = {}
        for n_ in parent:
            r = find(n_)
            if r not in rep or n_ < rep[r]:
                rep[r] = n_
        out_rows = [(n_, rep[find(n_)]) for n_ in sorted(parent)]
        from pyspark.sql import types as T

        id_type = edges.schema["u"].dataType
        schema = T.StructType([
            T.StructField("doc_id", id_type),
            T.StructField("cluster_rep", id_type),
        ])
        return pairs.sparkSession.createDataFrame(out_rows, schema)
    # initial label: min(self, direct neighbors) — one round for free
    labels = edges.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("label")
    )
    converged = False
    for _ in range(max_iter):
        prop = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("vlab")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlab").alias("nbr_label"))
        )
        stepped = labels.join(prop, "u", "left").select(
            "u",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        # pointer jumping: follow the label one more hop (every label IS
        # a node of the graph, so it has a row); O(diameter) -> O(log).
        # The convergence flag rides along as a column; the count below is
        # the round's ONLY action — it materializes the lazy checkpoint
        # (every partition: a full count, no limit short-circuit) and
        # returns the number of labels that moved in the same job.
        new_labels = (
            stepped.join(
                stepped.select(
                    F.col("u").alias("label"), F.col("label").alias("_ll")
                ),
                "label",
                "left",
            )
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("_ll", F.col("label"))).alias(
                    "label"
                ),
                "_old",
            )
            .withColumn("_chg", F.col("label") != F.col("_old"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("u", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"duplicate_clusters: not converged after {max_iter} rounds; "
            "labels may split one true component — raise max_iter",
            RuntimeWarning,
        )
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_rep"))


def keep_cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """The dedup TRANSFORM over cluster output: keep one row per
    near-dup cluster (plus every unclustered row untouched).

    ``score_col=None`` keeps the cluster representative (min id — matches
    ``cluster_rep`` exactly). With a score column, keeps the HIGHEST-score
    member per cluster (ties -> min id; NULL scores lose to any non-NULL
    score, and an all-NULL cluster falls back to min id rather than
    vanishing — max() of all-NULLs is NULL and a naive equality filter
    would otherwise delete the whole cluster). Window-free: groupBy over
    the (small) clustered subset + anti/semi joins back."""
    member_ids = clusters.select(F.col(id_col))
    if score_col is None:
        keep_ids = clusters.filter(F.col(id_col) == F.col("cluster_rep")).select(id_col)
    else:
        scored = clusters.join(df.select(id_col, score_col), id_col, "left")
        best = scored.groupBy("cluster_rep").agg(F.max(score_col).alias("_best"))
        keep_ids = (
            scored.join(best, "cluster_rep")
            .filter(F.col(score_col).eqNullSafe(F.col("_best")))
            .groupBy("cluster_rep")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
    unclustered = df.join(member_ids, id_col, "left_anti")
    kept = df.join(keep_ids, id_col, "left_semi")
    return unclustered.unionAll(kept)


def resolve_revisits(
    originals: DataFrame, revisits: DataFrame, digest_col: str = "digest"
) -> DataFrame:
    """Resolve WARC ``revisit`` records back to their stored payloads —
    the read side of crawl-level dedup (sources/warc.build_revisit): a
    re-fetch whose payload matched an earlier capture carries only
    ``WARC-Payload-Digest``, and consumers re-attach the payload by
    digest.

    ``originals`` is first reduced to ONE row per digest (lexicographic
    min of the remaining-column struct — deterministic however many
    captures share a payload), then ``revisits`` left-joins on the
    digest. Returns the revisit columns plus ``original_<col>`` for
    every non-digest originals column; an unresolvable digest (its
    capture fell outside the read window) keeps NULL originals rather
    than dropping the row.

    100 TB shape: both sides are corpus-sized, so this is a plain
    digest-keyed shuffle join — no broadcast hint (AQE may still pick
    one when the deduped originals turn out small); the map-side
    partial of the min-struct aggregate collapses duplicate payloads
    before the shuffle."""
    other = [c for c in originals.columns if c != digest_col]
    best = originals.groupBy(digest_col).agg(
        F.min(F.struct(*other)).alias("_o")
    )
    carried = [F.col("_o")[c].alias(f"original_{c}") for c in other]
    return revisits.join(best, digest_col, "left").select(
        *revisits.columns, *carried
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_words: int = 50,
    sample_mod: int = 1,
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family,
    re-expressed as shuffle work instead of a single-node suffix
    array): every ``gram_words``-word window whose hash occurs more
    than once in the corpus is removed from every position except the
    canonical first occurrence (lexicographic min (id, offset) — so
    one copy of the duplicated passage always survives, in the
    lowest-id document holding it).

    Returns the input plus ``clean_text`` (surviving words joined by
    single spaces — whitespace is canonicalized, the same convention as
    C4 unit dedup) and ``n_removed_words``. Windows shorter than
    ``gram_words`` never match, so documents below the window size pass
    through verbatim; overlapping duplicate windows merge through index
    coverage, trimming maximal duplicated RUNS, not just isolated
    grams.

    ``sample_mod`` > 1 keeps only windows with ``hash % sample_mod ==
    0`` — CONTENT-defined (winnowing-style) sampling, so identical
    spans select identical windows in every copy regardless of their
    offsets (a positional stride would misalign the copies and match
    nothing). Duplicated spans then lose ~1/sample_mod of their
    windows' coverage instead of all of it — the standard
    cost/coverage dial.

    100 TB shape: the explode emits one (id, offset, hash) row per
    window and the sample filter drops (sample_mod-1)/sample_mod of
    them BEFORE the exchange — hashing stays O(tokens) compute, but
    shuffle volume (~24 bytes x tokens / sample_mod) is the dial. Only
    hashes shuffle: the gram counts aggregate partially map-side, the
    dup join is hash-keyed with NO broadcast hint (duplicate-gram
    cardinality is unbounded on a dirty corpus — AQE may still choose
    one when it measures small), marked offsets re-aggregate on the
    id, and document text never leaves its partition until the final
    id-keyed join of bounded offset arrays."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    starts = F.when(
        n >= gram_words,
        F.sequence(F.lit(0), n - gram_words),
    ).otherwise(F.array().cast("array<int>"))
    grams = df.select(
        F.col(id_col), words.alias("_w"), F.explode(starts).alias("j")
    ).select(
        id_col,
        "j",
        F.xxhash64(
            F.array_join(F.slice(F.col("_w"), F.col("j") + 1, gram_words), " ")
        ).alias("h"),
    )
    if sample_mod > 1:
        grams = grams.filter(F.pmod(F.col("h"), F.lit(sample_mod)) == 0)
    dup_owner = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct(id_col, "j")).alias("_own"),
        )
        .filter(F.col("_c") > 1)
        .select("h", "_own")
    )
    marked = (
        grams.join(dup_owner, "h")
        .filter(
            ~(
                (F.col(id_col) == F.col("_own")[id_col])
                & (F.col("j") == F.col("_own")["j"])
            )
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("j")).alias("_starts"))
    )
    removed = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + gram_words - 1),
            )
        )
    )
    # barrier: `removed` is referenced from inside the kept-words filter
    # lambda, which evaluates per WORD — without the Generate barrier the
    # whole flatten/distinct tree re-evaluates per element (trap 9),
    # turning an O(n) splice into O(n^2) on long documents
    out = _barrier(df.join(marked, id_col, "left"), removed, "_removed")
    kept = F.filter(
        words, lambda w, idx: ~F.array_contains(F.col("_removed"), idx)
    )
    return (
        out.withColumn("clean_text", F.array_join(kept, " "))
        .withColumn(
            "n_removed_words", (F.size(words) - F.size(kept)).cast("int")
        )
        .drop("_starts", "_removed")
    )


def hamming_near_duplicates(
    df: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunk_bits: int = 16,
) -> DataFrame:
    """Near-duplicate pairs over a PRECOMPUTED <=64-bit signature
    column — the generic twin of ``simhash_near_duplicates``: any
    Hamming-space signature works (a perceptual image hash, an audio
    fingerprint, a simhash computed elsewhere).

    4-chunk pigeonhole banding: a pair within ``max_hamming`` <=
    64/chunk_bits - 1 differing bits must agree on at least one chunk,
    so the band join finds ALL such pairs; the final filter drops
    band-collision false positives. Returns (id_a, id_b, sig_a, sig_b,
    hamming), id_a < id_b.

    100 TB shape: only (id, sig, chunk, val) rows shuffle (~32 B x 4
    per item); candidate blowup is bounded by band-bucket sizes like
    the text path — a degenerate corpus (one image repeated 10^9
    times) should exact-dedup on the signature FIRST, as with text."""
    sh = df.select(F.col(id_col), F.col(sig_col).alias("sim"))
    mask = (1 << chunk_bits) - 1
    chunks = sh.select(
        id_col,
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(64 // chunk_bits)
                ]
            )
        ).alias("cv"),
    ).select(
        id_col, "sim",
        F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"),
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sim").alias("sig_a"),
        "chunk", "val",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sim").alias("sig_b"),
        "chunk", "val",
    )
    pairs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    ).filter(F.col("hamming") <= max_hamming)
