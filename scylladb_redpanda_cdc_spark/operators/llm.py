"""LLM-data-pipeline operator kernels (SURVEY.md §2.X + driver mandate).

Shared Spark-native building blocks for dedup / similarity / text analysis.
Everything here is JVM-side expression algebra (whole-stage codegen) — no
Python UDFs in any hot path. Determinism discipline: hash seeds are literals
(plans must be pure; driver re-runs hash-match, SURVEY.md §4.3), folds use a
double accumulator left-to-right so results are bit-stable and DuckDB-
reproducible.

Scale notes:
- MinHash/LSH banding (minhash_band_signature) turns O(n²) near-dup search
  into an equi-join on (band, signature) — the only shuffle is on the band
  key, and band buckets are the unit of parallelism at 100 TB.
- Cosine kernels are per-row expressions; top-k uses TakeOrdered (no global
  sort), bucketed variants (plans/llm_queries.py X4/X12/X13) bound the pair
  space by construction.
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators.checkpoint import stage_checkpoint

#: Small English-ish stopword list used by tokenize/quality/langid operators.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")


def words(text: Column) -> Column:
    """Lowercased alnum word tokens (empty tokens dropped)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def _shingle_zip(ws: Column, k: int) -> Column:
    """array<struct> of k consecutive tokens via arrays_zip of k shifted
    slices. Each slice evaluates ``ws`` once — O(n·k) total. The naive
    per-position ``element_at`` form re-evaluates the (un-codegen'd,
    interpreted) tokenize expression for every lookup — O(n²) per doc and
    ~20x slower at sf0.1."""
    n = F.size(ws)
    return F.arrays_zip(*[F.slice(ws, j + 1, n - k + 1) for j in range(k)])


def word_shingles(ws: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token array (empty if < k tokens)."""
    joined = F.transform(
        _shingle_zip(ws, k),
        lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(k)]),
    )
    return F.when(F.size(ws) >= k, F.array_distinct(joined)).otherwise(
        F.array().cast("array<string>")
    )


def word_grams(ws: Column, k: int) -> Column:
    """All k-grams of a token array IN ORDER, duplicates kept (the multiset
    form — repetition analysis needs the duplicates word_shingles drops)."""
    joined = F.transform(
        _shingle_zip(ws, k),
        lambda t: F.concat_ws(" ", *[t[str(j)] for j in range(k)]),
    )
    return F.when(F.size(ws) >= k, joined).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(ws: Column, k: int = 3) -> Column:
    """64-bit xxhash64 hashes of the k-word shingles (multiset, not
    distinct — min() consumers like MinHash are duplicate-insensitive).
    Skips string materialization entirely: xxhash64 over the k token
    fields directly. NON-portable fast path; the graded MinHash query uses
    :func:`hash60` over :func:`word_grams` so DuckDB can twin it."""
    hashed = F.transform(
        _shingle_zip(ws, k),
        lambda t: F.xxhash64(*[t[str(j)] for j in range(k)]),
    )
    return F.when(F.size(ws) >= k, hashed).otherwise(
        F.array().cast("array<bigint>")
    )


def hash16(c: Column) -> Column:
    """Portable 16-bit hash: first 4 hex chars of sha256, as a long.

    Engine-exact twin: DuckDB ``CAST(concat('0x', substr(sha256(x), 1, 4))
    AS BIGINT)`` and Python ``int(hashlib.sha256(x).hexdigest()[:4], 16)``
    produce the identical value — the property that lets SimHash carry a
    strict cross-engine value oracle instead of a rows-only check."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 4), 16, 10).cast("long")


def hash60(c: Column) -> Column:
    """Portable 60-bit hash (first 15 hex chars of sha256 — the widest
    prefix that always fits a signed 64-bit int). Same cross-engine
    exactness contract as :func:`hash16`; used as the one-per-shingle base
    hash that MinHash band signatures re-mix."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


#: Mersenne-prime modulus for the MinHash re-mix family: products of two
#: 31-bit values stay under 2^62, so the arithmetic is overflow-free (and
#: ANSI-mode safe) in int64 on every engine.
MINHASH_P = 2147483647

#: 16 literal (multiplier, offset) pairs drawn once from a fixed-seed PRNG
#: at import — the universal-hash family h_b(x) = ((x mod P)*a_b + c_b)
#: mod P. Literals (not runtime randomness) keep plans pure and let the
#: DuckDB oracle embed the identical constants.
_MINHASH_RNG = random.Random(20240813)
MINHASH_BANDS: list[tuple[int, int]] = [
    (_MINHASH_RNG.randrange(1, MINHASH_P), _MINHASH_RNG.randrange(0, MINHASH_P))
    for _ in range(16)
]


def minhash_remix(h: Column, band: int) -> Column:
    """Band-``band`` universal-hash re-mix of a base shingle hash. Pure
    int64 arithmetic — each shingle string is sha-hashed ONCE and the 16
    band values are derived by two multiply-adds, keeping the 20x win over
    per-band string hashing while staying engine-portable."""
    a, c = MINHASH_BANDS[band]
    return ((h % MINHASH_P) * F.lit(a) + F.lit(c)) % MINHASH_P


def dot_d(a: Column, b: Column) -> Column:
    """Dot product with a DOUBLE accumulator, left-to-right fold.

    float32*float32 multiply then exact promotion to double — bit-identical
    to DuckDB's list_transform/list_aggregate('sum') over the same arrays.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_d(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_d(a, b) / (l2_norm(a) * l2_norm(b))


def minhash_band_signature(shingles: Column, band: int) -> Column:
    """MinHash signature for one band: min over shingles of a band-seeded
    64-bit xxhash64 — the NON-portable fast path (no DuckDB twin) for
    deployments that don't need cross-engine reproducibility. Seed is the
    literal band index — deterministic across runs and cluster sizes.

    Per-row expression form, useful for a handful of bands. For many bands
    prefer the explode + per-band ``min()`` aggregate shape used by
    plans/llm_queries.x2_dedup_fuzzy_minhash — it hashes each shingle
    string once (portably, via :func:`hash60`) and re-mixes the long hash
    per band with :func:`minhash_remix`, which is ~20x faster."""
    return F.array_min(
        F.transform(shingles, lambda s: F.xxhash64(F.lit(band), s))
    )


def _simhash(
    ws: Column, nbits: int, hash_fn: Callable[[Column], Column]
) -> Column:
    """Shared SimHash kernel: ``nbits``-bit signature of a token array.

    For each bit b, sum +1/-1 over token hashes' bit b; bit set iff the sum
    is positive. Pure expression algebra — per-row, no shuffle — and one
    fold regardless of signature width: a per-bit vote-counter array
    carried through a single ``aggregate`` + ``zip_with``. (The round-11
    rewrite replaced a per-bit form whose ``nbits`` separate folds each
    re-evaluated the un-CSE'd ``transform(ws, hash_fn)`` input — 16 sha256
    passes over every token at 16 bits; measured 11x slower at sf0.1:
    3.76 s vs 0.33 s for identical signatures.)

    A NULL token array yields signature 0 (``coalesce``), matching both
    the pre-rewrite per-bit form and the DuckDB oracles' ``COALESCE(sig,
    0)`` — the fold itself would propagate NULL (round-11 advice)."""
    hs = F.transform(ws, hash_fn)
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(nbits)])
    zeros = F.array_repeat(F.lit(0).cast("long"), nbits)
    votes = F.aggregate(
        hs,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    bits = F.zip_with(
        votes,
        masks,
        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
    )
    sig = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.coalesce(sig, F.lit(0).cast("long"))


def simhash16(ws: Column) -> Column:
    """16-bit SimHash of a token array (the signature-only x10 surface).

    Token hashes are :func:`hash16` (sha-prefix), so a DuckDB oracle can
    recompute the identical signature. Delegates to the one-fold
    :func:`_simhash` kernel shared with :func:`simhash32`."""
    return _simhash(ws, 16, hash16)


def hash32(c: Column) -> Column:
    """Portable 32-bit hash (first 8 hex chars of sha256) — the token-hash
    base :func:`simhash32` votes over. Same cross-engine exactness contract
    as :func:`hash16`/:func:`hash60`."""
    return F.conv(F.substring(F.sha2(c, 256), 1, 8), 16, 10).cast("long")


def simhash32(ws: Column) -> Column:
    """32-bit SimHash of a token array — the pair-join width.

    Same one-fold :func:`_simhash` kernel as :func:`simhash16`: the token
    array is walked once regardless of signature width — the shape that
    matters when a deployment widens to the 64-bit signatures crawl-scale
    simhash dedup uses (Manku et al., WWW'07). Still pure per-row
    expression algebra: no shuffle, engine-exact via :func:`hash32`."""
    return _simhash(ws, 32, hash32)


#: Embedding dimensionality contract for the LSH plane family (the
#: ``embeddings`` fixture is FLOAT[64] at every SF; a deployment with a
#: different model dim changes this constant alongside its data).
EMBEDDING_DIM = 64


def lsh_plane_ints(plane: int, dim: int = EMBEDDING_DIM) -> list[int]:
    """Hyperplane ``plane`` as ``dim`` integers in [0, 1000): sha256 of the
    literal string ``"{plane}:{d}"`` per component. Computed driver-side
    (hashlib) and embedded as plan literals — the plane matrix is model
    state, not data, so per-row hashing of (plane, dim) pairs would burn
    executor cycles recomputing a constant; and because Python hashlib,
    Spark ``sha2`` and DuckDB ``sha256`` agree byte-for-byte, the DuckDB
    oracle embeds the identical integers."""
    return [
        int(hashlib.sha256(f"{plane}:{d}".encode()).hexdigest()[:4], 16) % 1000
        for d in range(dim)
    ]


def lsh_bucket(emb: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: bit p = sign of dot(emb, plane_p).

    Components are ``v/500.0 - 1.0`` over :func:`lsh_plane_ints` (uniform
    in [-1, 1)); the projection fold mirrors :func:`dot_d`'s double
    accumulator left-to-right, so DuckDB reproduces every bucket id
    bit-for-bit. Per-row expression over literal arrays — no shuffle, no
    broadcast, nothing recomputed per row beyond the 64 multiply-adds."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        comps = F.array(
            *[F.lit(v / 500.0 - 1.0) for v in lsh_plane_ints(p)]
        )
        proj = F.aggregate(
            F.zip_with(emb, comps, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(0)
    return bucket


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the raw text, mod 2^31-1 (fits in long
    without overflow: acc*31 + code < 2^36)."""
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(2147483647).cast("long"),
    )


#: Shuffle width of :func:`connected_components_min_label`'s rounds.
CC_LOOP_SHUFFLE = 8


def connected_components_min_label(edges, node_col: str = "doc_a", nbr_col: str = "doc_b"):
    """Connected components by iterative min-label propagation over a
    SYMMETRIC edge list: every node that appears in ``node_col`` is labeled
    with the smallest node id reachable from it (X21's kernel; callers add
    singletons).

    Each round is one edge⋈label join plus one aggregate (the node's own
    label rides the union as a self-row, and the convergence flag — new
    label < old label — is computed inside the aggregate), so one Spark
    action materializes the round AND answers "did anything change".
    Rounds needed = component diameter, capped at 50. The loop scopes
    ``spark.sql.shuffle.partitions`` to :data:`CC_LOOP_SHUFFLE` while it
    runs: the label frame is nodes-in-edges sized, orders of magnitude
    below the corpus, and labels are partitioning-invariant — the width
    never changes a result.

    Returns (node_col, cluster_id), one row per distinct ``node_col``.
    """
    from scylladb_redpanda_cdc_spark.streaming.core import scoped_conf

    with scoped_conf(
        edges.sparkSession, "spark.sql.shuffle.partitions", str(CC_LOOP_SHUFFLE)
    ):
        # Eager stage_checkpoint, NOT persist: persist caches execution but
        # the LOGICAL plan still nests — each round's plan embeds the
        # previous round's twice (neighbor join + self union), doubling the
        # tree per round, and the analyzer OOMs around diameter ~9.
        # Checkpointing truncates the plan so every round starts from a
        # leaf. (stage_checkpoint picks localCheckpoint locally; a cluster
        # sets spark.sg.checkpointDir for the reliable form — same
        # algorithm.)
        labels = (
            edges.select(node_col)
            .distinct()
            .select(
                F.col(node_col).alias("doc_id"),
                F.col(node_col).alias("cluster_id"),
            )
            .transform(stage_checkpoint)
        )
        prev_ckpt = labels
        for _round in range(50):
            nbr = edges.join(labels, edges[nbr_col] == labels.doc_id).select(
                F.col(node_col).alias("doc_id"),
                F.col("cluster_id").alias("lbl"),
                F.lit(False).alias("is_self"),
            )
            mine = labels.select(
                "doc_id",
                F.col("cluster_id").alias("lbl"),
                F.lit(True).alias("is_self"),
            )
            nxt = (
                nbr.unionByName(mine)
                .groupBy("doc_id")
                .agg(
                    F.min("lbl").alias("cluster_id"),
                    F.min(F.when(F.col("is_self"), F.col("lbl"))).alias("__old"),
                )
                .transform(stage_checkpoint)
            )
            n_changed = nxt.filter(F.col("cluster_id") < F.col("__old")).count()
            prev_ckpt.unpersist()
            prev_ckpt = nxt
            labels = nxt.drop("__old")
            if n_changed == 0:
                break
        else:
            # The df<=50 shingle cap bounds per-shingle fan-out but NOT
            # similarity-chain length, so a >50-diameter component is
            # possible at scale. Returning the unconverged labels would be
            # silently wrong; fail loudly instead so callers can raise the
            # round cap (rounds needed = component diameter).
            raise RuntimeError(
                "connected_components_min_label: not converged after 50 "
                f"rounds ({n_changed} labels still changing); a component's "
                "diameter exceeds the round cap"
            )
        return labels.select(F.col("doc_id").alias(node_col), "cluster_id")
