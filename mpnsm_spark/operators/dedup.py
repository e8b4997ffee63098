"""Deduplication for training-data pipelines: exact, MinHash-LSH, SimHash,
n-gram Jaccard.

Scale-first design notes (100 TB):

- **exact**: one hash-aggregate on md5(normalized text) — the only shuffle is
  on the 16-byte digest, never the text.
- **MinHash signatures are computed WITHOUT exploding shingles**: the shingle
  array stays inside the row and ``array_min(transform(...))`` evaluates each
  of the k hash functions JVM-side — zero shuffle until the LSH band explode,
  which emits only ``n_bands`` (small) rows per doc. Candidate generation is a
  self-join on (band_id, band_hash) — the classic banding trick, so the join
  key cardinality stays high and skew-free.
- **SimHash**: 64-bit signature folded from per-token hashes with an
  aggregate over a 64-slot array accumulator — again no explode; near-dup
  candidates bucket on the top bits.
- **n-gram Jaccard** verifies candidate pairs with
  ``array_intersect``/``array_union`` sizes — exact, and only on the
  (LSH-pruned) candidate set, never all pairs.

All built-in expressions; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpnsm_spark.operators.skew import fan_out
from mpnsm_spark.operators.text import normalize_text


# ------------------------------------------------------------------ exact dup


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per identical normalized text.

    Output: one row per distinct text with ``keep_id`` and ``dup_count``.
    """
    fp = df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    )


# ------------------------------------------------------------------- shingles


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles of the normalized text (deduped, sorted
    for deterministic downstream hashing); shorter docs yield the whole text
    as a single shingle."""
    toks = F.split(normalize_text(text), " ")
    # slice-per-position is formally O(tokens^2) per doc but tokens is small
    # (~45 at the corpus' ~300-char docs) and slice+concat_ws is the FAST
    # form: an A/B against per-element try_element_at builds measured the
    # slice form 3x faster (try_element_at pays an ANSI try wrapper per call;
    # plain element_at throws past-the-end under ANSI and can't be used).
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_sort(F.array_distinct(grams))


# -------------------------------------------------------------------- MinHash


# Largest prime below 2^32 — modulus of the k-permutation family. With
# 32-bit base hashes and multipliers < 2^6, products stay < 2^38: no
# overflow in Spark longs OR DuckDB BIGINTs (which would error, not wrap).
MINHASH_P = 4294967291


def _perm_a(j: int) -> int:
    return 2 * j + 1


def _perm_b(j: int) -> int:
    return (j * 1000003) % MINHASH_P


def shingle_hashes_md5(shingles: Column) -> Column:
    """Each shingle hashed ONCE to a 32-bit int: first 8 hex chars of its
    md5, parsed base-16. Cross-engine reproducible (DuckDB parses the same
    nibbles) and 1 md5 per shingle instead of num_hashes md5s."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def minhash_signature(
    shingles: Column,
    num_hashes: int = 32,
    hash_strategy: str = "xxhash64",
    hashed: bool = False,
) -> Column:
    """k-permutation MinHash signature — no explode: each hash function is an
    array_min over JVM-evaluated hashes of each shingle.

    ``hash_strategy``:

    - ``"xxhash64"`` (default, fastest): array<long>, seeded xxhash64.
    - ``"md5"``: array<long>, min of ``(a_j*h + b_j) mod P`` over per-shingle
      32-bit md5-derived hashes ``h`` (see :func:`shingle_hashes_md5`).
      Cross-engine reproducible — DuckDB/any ANSI engine computes the
      identical signature, so the whole LSH pipeline is oracle-checkable
      bit-for-bit — at ONE md5 per shingle (an earlier lexicographic
      min-of-md5("<j>|"+s) variant cost num_hashes md5s per shingle and
      benched 25-50x slower end to end). Pass ``hashed=True`` when
      ``shingles`` is already the materialized int array.
    """
    # One transform lambda emits ALL hash lanes per shingle, then one
    # aggregate+zip_with folds the element-wise minimum. NOT num_hashes
    # separate transform(...) lambdas: pyspark's python-lambda variables
    # collide when the same HOF pattern repeats inside one expression
    # (measured: every array slot evaluated the FIRST closure, silently
    # degenerating all 32 signature lanes to the same permutation).
    if hash_strategy == "md5":
        hs = shingles if hashed else shingle_hashes_md5(shingles)
        mat = F.transform(
            hs,
            lambda h: F.array(
                *[
                    F.pmod(
                        h * F.lit(_perm_a(j)) + F.lit(_perm_b(j)),
                        F.lit(MINHASH_P),
                    )
                    for j in range(num_hashes)
                ]
            ),
        )
        top = F.lit(MINHASH_P).cast("long")
    else:
        mat = F.transform(
            shingles,
            lambda s: F.array(*[F.xxhash64(s, F.lit(j)) for j in range(num_hashes)]),
        )
        top = F.lit(2**63 - 1).cast("long")
    return F.aggregate(
        mat,
        F.array_repeat(top, num_hashes),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 32,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """(_id, sig) MinHash signatures via explode → codegen min-aggregates.

    Computes the SAME longs as :func:`minhash_signature` (same per-shingle
    hash, same permutation arithmetic, min over the same deduped shingle
    set — bitwise; a pytest pins the two paths equal) but in whole-stage
    codegen: the expression form runs one interpreted higher-order
    transform+aggregate per document (~shingles × num_hashes lambda evals),
    while this plan explodes shingles and folds ``min`` per lane with
    map-side partial aggregation — the exchange carries one row per doc,
    and per-shingle hashing happens exactly once in the aggregate's input
    projection. Docs whose shingle array is null (null text) drop out here;
    in the pair pipeline they can never produce a verified pair either way
    (their null Jaccard is filtered), so pair output is identical.
    """
    # Shingling + per-shingle hashing are the expensive per-row work and run
    # BEFORE the aggregation exchange — on a single-file (one row group)
    # input the whole corpus would shingle on one core. fan_out hash-spreads
    # the narrow (id, text) rows first (deterministic, no-op at scale), and
    # the groupBy below reuses that id-partitioning: no extra exchange.
    ex = fan_out(df.select(id_col, text_col), key=id_col).select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(F.col(text_col), ngram)).alias("_s"),
    )
    if hash_strategy == "md5":
        # hash each shingle ONCE into a materialized column; referencing the
        # md5 subtree from all num_hashes aggregate expressions would make
        # every lane recompute it (the 25-50x blowup class the expression
        # form's barrier guards against)
        ex = ex.select(
            "_id",
            F.conv(F.substring(F.md5(F.col("_s")), 1, 8), 16, 10)
            .cast("long")
            .alias("_h"),
        )
        lanes = [
            F.min(
                F.pmod(
                    F.col("_h") * F.lit(_perm_a(j)) + F.lit(_perm_b(j)),
                    F.lit(MINHASH_P),
                )
            ).alias(f"_h{j}")
            for j in range(num_hashes)
        ]
    else:
        lanes = [
            F.min(F.xxhash64(F.col("_s"), F.lit(j))).alias(f"_h{j}")
            for j in range(num_hashes)
        ]
    wide = ex.groupBy("_id").agg(*lanes)
    return wide.select(
        "_id", F.array(*[f"_h{j}" for j in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Scale shape (the 100 TB contract): the banded self-join carries ONLY
    ``(_id, band_id, band_hash)`` — document content (shingle arrays) never
    crosses that shuffle. Shingles are recomputed from text for just the
    deduped candidate ids via two joins against the (narrow) doc table, so
    corpus content is shuffled at candidate volume, not ×bands×candidates.
    """
    rows_per_band = num_hashes // bands
    # Signatures via the explode → codegen min-aggregate plan (bitwise equal
    # to the expression form minhash_signature, which stays as the pinned
    # twin): per-shingle hashing happens once in codegen and the groupBy's
    # map-side partial min reduces each task to one row per doc before the
    # exchange. The aggregate's exchange doubles as the barrier ReuseExchange
    # shares across both sides of the banded self-join.
    sig = minhash_signatures_df(
        df, id_col=id_col, text_col=text_col, ngram=ngram,
        num_hashes=num_hashes, hash_strategy=hash_strategy,
    )

    def _band_hash(b):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return F.md5(joined) if hash_strategy == "md5" else F.xxhash64(joined)

    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), _band_hash(b).alias("band_hash")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_id", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Candidate-verify shingles: same single-file input-skew fix as the
    # signature pass — shingle across the cluster, not on the scan's one task.
    sh = fan_out(df.select(id_col, text_col), key=id_col).select(
        F.col(id_col).alias("_sid"),
        word_ngrams(F.col(text_col), ngram).alias("_sh"),
    )
    verified = (
        cand.join(sh.withColumnRenamed("_sid", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_sid", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        verified.withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    blocking_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard within optional blocking groups.

    Without LSH this is O(n²) per block — intended for oracle checking and
    for small blocked groups (e.g. same fp_prefix64), not the full corpus.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        word_ngrams(F.col(text_col), ngram).alias("sh"),
        *( [F.col(blocking_col).alias("_blk")] if blocking_col else [] ),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if blocking_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(F.array_union("a.sh", "b.sh"))
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            jac.cast("double").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------------------------- SimHash


def simhash64(text: Column) -> Column:
    """64-bit SimHash of whitespace tokens, computed as an aggregate over a
    64-slot sign accumulator (no explode, no UDF)."""
    toks = F.split(normalize_text(text), " ")
    # shift amounts must be int literals, so the 64 bit lanes are unrolled
    # driver-side into one JVM expression tree (no per-row Python).
    bit_votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), j).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1).cast("long"),
                    ).otherwise(F.lit(-1).cast("long"))
                    for j in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    # Fold votes back into a 64-bit signature: bit j set iff votes[j] > 0.
    sig = F.lit(0).cast("long")
    for j in range(64):
        bit_val = F.lit(1 << j if j < 63 else -(2**63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.element_at(bit_votes, j + 1) > 0, bit_val).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def simhash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """Docs bucketed by the top ``prefix_bits`` of their SimHash — near-dup
    blocking key (hamming-close docs usually share the prefix).

    ``hash_strategy="xxhash64"`` (default, production path): pure-JVM
    expression variant — no Python stage anywhere in the plan, whole-stage
    codegen end to end, the right default at 100 TB. Its ~15s of one-time
    driver codegen/plan overhead (64-lane expression tree) is fixed cost,
    amortized to nothing on a real corpus. Signature/bucket are longs.

    ``hash_strategy="md5"``: per-token md5 hashes folded in an Arrow-batched
    kernel — cross-engine reproducible, so it is the oracle twin the DuckDB
    correctness gate replays (and the faster choice for tiny local jobs where
    plan overhead dominates). Output signature/bucket are hex strings.
    """
    if hash_strategy == "xxhash64":
        sig = simhash64(F.col(text_col))
        return df.select(
            F.col(id_col),
            sig.alias("simhash"),
            F.shiftrightunsigned(sig, 64 - prefix_bits).alias("bucket"),
        )

    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    prefix_hex = prefix_bits // 4
    id_type = dict(df.dtypes)[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpnsm_spark.functions.arrowcfg import init_python_worker

        init_python_worker()
        shifts = np.arange(64, dtype=np.uint64)
        cache: dict[str, int] = {}
        for pdf in batches:
            sigs = []
            for t in pdf[text_col]:
                # mirror normalize_text exactly: lower, collapse \s+, trim
                toks = re.sub(r"\s+", " ", (t or "").lower()).strip().split(" ")
                hs = np.empty(len(toks), dtype=np.uint64)
                for i, tok in enumerate(toks):
                    h = cache.get(tok)
                    if h is None:
                        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16)
                        cache[tok] = h
                    hs[i] = h
                bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
                sigs.append(format(sig, "016x"))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash_hex": sigs,
                    "bucket": [s[:prefix_hex] for s in sigs],
                }
            )

    # Python kernel = expensive per row: spread a 1-task scan first
    # (deterministic no-op when the input already has enough splits).
    return fan_out(df.select(id_col, text_col), key=id_col).mapInPandas(
        run, f"{id_col} {id_type}, simhash_hex string, bucket string"
    )


# ------------------------------------------------- duplicate-cluster resolve


def resolve_duplicate_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    fixed_iters: int | None = None,
) -> DataFrame:
    """Duplicate pairs → connected components → keep-one-per-cluster.

    The near-dup detectors (:func:`minhash_lsh_pairs`, SimHash buckets,
    sign-LSH) emit PAIRS; an actual corpus dedup must drop every TRANSITIVE
    duplicate (a∼b, b∼c ⇒ drop two of {a,b,c}). This resolves components by
    min-id label propagation — the standard scalable shape (cf. the
    large-star/small-star CC algorithm, Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14):

    - per round, every node takes ``min(label, min(neighbor labels))`` —
      one shuffle on the edge key per round (large-star step);
    - by default rounds stop when no label changes (checked with a cheap
      count) or at ``max_iters``, and each round adds path-halving
      (``label = min(label, label(label))``, the small-star step) so
      convergence needs O(log diameter) rounds instead of O(diameter);
    - ``fixed_iters`` runs EXACTLY that many neighbor-min rounds with no
      convergence actions and no pointer jumping — the bit-deterministic
      mode the driver oracle replays by unrolling the same rounds in SQL
      (correct whenever the graph diameter < fixed_iters).

    ``ids`` (optional, one column named like ``id_a``-less ``doc_id``…
    any single-column frame) adds isolated documents as singleton clusters.
    Pair endpoints missing from ``ids`` still get their clusters.

    Output: ``(doc_id, cluster_id, keep_flag)`` — cluster_id = min doc id of
    the component, keep_flag marks the representative. Labels only ever
    shrink, so every step is an associative min — safe under AQE re-plans
    and partial aggregation; per-round state is one (id, label) row per
    UNIQUE node, never the pair multiset.
    """
    if fixed_iters is not None and fixed_iters < 1:
        raise ValueError(f"fixed_iters must be >= 1, got {fixed_iters}")
    # Mirror each pair with ONE explode, not a self-union: a union's two
    # branches duplicate the upstream pair plan in the physical tree, and
    # ReuseExchange only dedups exchanges — the pair-producing JOIN itself
    # (the expensive in-bucket quadratic verify for LSH inputs) would execute
    # TWICE inside the edge materialization job. explode emits both
    # directions from one execution of the pair plan, plus a self-loop per
    # endpoint: each round then folds the node's own label in through the
    # same join as its neighbours', so a round is one join + one
    # min-aggregate.
    edges = pairs.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.col(s).alias("src"), F.col(d).alias("dst"))
                    for s, d in [(id_a, id_b), (id_b, id_a), (id_a, id_a), (id_b, id_b)]
                ]
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    if ids is not None:
        # isolated ids ride through the rounds labelled by their own loop
        id_col = ids.columns[0]
        edges = edges.unionByName(
            ids.select(F.col(id_col).alias("src"), F.col(id_col).alias("dst"))
        )
    # Materialize the edge list ONCE: every propagation round joins `edges`,
    # and the upstream pair-finding plan (LSH self-join over a Python embed
    # stage, say) would otherwise re-execute per round — measured 5x the
    # whole chain's cost at sf0.1. Edge state is four rows per duplicate
    # pair (tiny next to the corpus), and localCheckpoint also truncates
    # lineage so the loop's DAG stays flat at any scale.
    edges = edges.localCheckpoint(eager=True)
    # Round one needs no join: every label still equals its node's id, so
    # it is the min ``dst`` per ``src``.
    labels = (
        edges.groupBy("src").agg(F.min("dst").alias("label"))
        .withColumnRenamed("src", "id")
    )
    for _ in range((fixed_iters or max_iters) - 1):
        new_labels = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .withColumnRenamed("src", "id")
        )
        if fixed_iters is not None:
            # Each round references `labels` exactly ONCE, so the whole
            # fixed-round chain stays LAZY: the driver submits one job for
            # all rounds over the checkpointed edge list.
            labels = new_labels
            continue
        l2 = new_labels.select(F.col("id").alias("p_id"), F.col("label").alias("p_label"))
        new_labels = (
            new_labels.join(l2, new_labels.label == l2.p_id)
            .select("id", F.least("label", "p_label").alias("label"))
            .localCheckpoint(eager=True)  # one row per node; flat lineage
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("keep_flag"),
    )
