"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame dataflow designed for the 100 TB regime:

- :func:`exact_dedup` — hash-groupBy on the full text; one shuffle, keeps
  the smallest doc_id per group (deterministic survivor).
- :func:`ngram_jaccard_pairs` — word n-gram shingle join; candidate pairs
  share >=1 shingle, Jaccard computed from distinct-shingle counts. The
  shingle join is the classic inverted-index self-join: work is bounded by
  shingle posting-list sizes, not |docs|².
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding: per-doc
  signature of K minima over universal-hash permutations of shingle
  hashes, banded into B groups; a single groupBy on (band, band_signature)
  produces candidate buckets and a self-join within buckets yields pairs.
  At scale this replaces the quadratic shingle join: candidates are only
  pairs agreeing on a full band.
- :func:`simhash60` — 60-bit SimHash per document (bitwise majority over
  token hashes; 60 bits = the md5 15-hex-digit prefix both engines can
  compute identically). Near-dups differ in few bits; a Hamming-band join
  is 4x15-bit chunk equality (any chunk equal -> candidate).

Shingle/token hashes use md5-prefix integers (``conv(substr(md5(g),1,15),
16,10)``) — chosen because the SAME value is computable in ANSI SQL
(DuckDB oracle) and in Spark builtins, keeping every step of these
operators SQL-checkable end-to-end. All hot paths are JVM expressions (no
Python UDFs anywhere in dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgp.reuse import local_reuse

# universal-hash parameters for MinHash permutations:
# h_i(x) = (a_i * (x mod P) + b_i) mod P with P = 2^31-1 so every product
# stays below 2^62 — no 64-bit overflow in either Spark or the SQL oracle.
MINHASH_P = (1 << 31) - 1  # Mersenne prime
MINHASH_SEED_A = 1_000_003
MINHASH_SEED_B = 7_919


def _md5_int(col):
    """First 60 bits of md5 as a non-negative bigint (same formula in SQL:
    CAST(('0x' || substr(md5(g),1,15)) AS UBIGINT) in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc_id + distinct word-ngram shingle strings (JVM-side)."""
    toks = F.split(F.col(text_col), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    return df.select("doc_id", grams.alias("shingles"))


def dedup_within_group(df: DataFrame, group_cols: list, order_cols: list) -> DataFrame:
    """A13: keep the first row per group under a deterministic order
    (the reference's stateful seen-set during negative sampling,
    prepare_training_datasets.py:82-100, as a rank window)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One survivor per distinct text: min doc_id (deterministic)."""
    return df.groupBy(text_col).agg(F.min("doc_id").alias("doc_id")).select("doc_id", text_col)


def run_dedup_resumable(
    spark,
    df: DataFrame,
    outdir: str,
    method: str = "minhash",
    fingerprint: str | None = None,
    **kw,
):
    """Cluster-mode dedup entry: runs :func:`ngram_jaccard_pairs` /
    :func:`minhash_lsh_pairs` with their self-joined intermediate
    (shingle posting list / banded signatures) persisted as a LineageLog
    stage TABLE instead of a localCheckpoint — executor-loss safe, and a
    crashed run resumes past the (expensive) shingling/signature pass.
    The final pair table is itself committed as a stage, so a finished
    dedup is a no-op on re-run.
    """
    import hashlib

    from kgp.reuse import content_hash, lineage_reuse

    if method not in ("minhash", "ngram"):
        raise ValueError(f"unknown dedup method {method!r}")
    if fingerprint is None:
        fingerprint = content_hash(df)
    fingerprint += ":" + hashlib.md5(repr(sorted(kw.items())).encode()).hexdigest()[:8]
    reuse = lineage_reuse(spark, outdir, fingerprint, bucket_on=None)
    pairs = minhash_lsh_pairs if method == "minhash" else ngram_jaccard_pairs
    return reuse.lineage.run_stage(
        spark, f"dedup_{method}_pairs", fingerprint,
        lambda: pairs(df, reuse=reuse, **kw), bucket_on=None,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
    on_drop=None,
    reuse=local_reuse,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) with shingle Jaccard >= threshold.

    ``max_shingle_df`` caps the posting-list self-join: a shingle appearing
    in more than that many documents (a stop-shingle like "the quick
    brown") would alone produce a quadratic candidate set inside one join
    key, so such shingles are dropped from CANDIDATE GENERATION (the join),
    not from the Jaccard denominators — overlap counts for pairs sharing a
    dropped shingle undercount by at most the number of shared hot
    shingles, i.e. the cap is conservative (it can only miss borderline
    pairs, never invent them). Pass ``None`` to disable. The cap is never
    silent: ``on_drop(n_hot_shingles)`` is invoked (one small extra job)
    whenever a callable is supplied; callers that must account for drops
    in lineage pass their metrics hook here.
    """
    sh = word_shingles(df, text_col, n).withColumn("n_sh", F.size("shingles"))
    # both sides of the self-join read this; the reuse point makes
    # shingling run once, not once per side (default: eager
    # localCheckpoint, single-box only — see run_dedup_resumable)
    ex = reuse(sh.select("doc_id", "n_sh", F.explode("shingles").alias("g")), "ngram_posting")
    if max_shingle_df is not None:
        hot = (
            ex.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .select("g")
        )
        if on_drop is not None:
            on_drop(hot.count())
        ex = ex.join(hot, "g", "left_anti")
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "g")
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "g")
    return (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("ov"))
        .withColumn("jaccard", F.col("ov") / (F.col("n_a") + F.col("n_b") - F.col("ov")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, k: int = 32, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """doc_id -> array of K minhash values (one shuffle-free pass)."""
    sh = word_shingles(df, text_col, n)
    hashed = sh.withColumn("hs", F.transform("shingles", lambda g: _md5_int(g)))

    def perm(i):
        # one-arg lambda only: Spark treats a 2-arg transform lambda as
        # (element, array_index), which would clobber the permutation index
        a = (MINHASH_SEED_A * (i + 1)) % MINHASH_P
        b = (MINHASH_SEED_B * (i + 1)) % MINHASH_P
        return lambda h: (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)

    mins = F.array(*[F.array_min(F.transform("hs", perm(i))) for i in range(k)])
    return hashed.select("doc_id", mins.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    max_bucket_size: int | None = 1000,
    on_drop=None,
    reuse=local_reuse,
) -> DataFrame:
    """Candidate pairs agreeing on at least one full LSH band.

    signature length k split into ``bands`` rows of k/bands; bucket key =
    (band_idx, band slice). Output: distinct (doc_a < doc_b).

    ``max_bucket_size`` bounds the within-bucket self-join: an adversarial
    bucket of B docs yields B²/2 candidates in ONE task's join key, so
    buckets larger than the cap are skipped entirely (their members were
    going to be caught by a different, smaller band bucket if genuinely
    similar; a >cap bucket is overwhelmingly a degenerate/boilerplate
    cluster). ``None`` disables; ``on_drop(n_dropped_buckets)`` reports
    the cap when a callable is supplied — caps are never silent.
    """
    assert k % bands == 0
    r = k // bands
    sig = minhash_signatures(df, k, n, text_col)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.array_join(
                            F.transform(
                                F.slice("sig", bi * r + 1, r), lambda x: x.cast("string")
                            ),
                            "-",
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # self-joined below — the reuse point makes the K-permutation
    # signature computation run once (default: eager localCheckpoint,
    # single-box only — see run_dedup_resumable)
    banded = reuse(banded, "minhash_banded")
    if max_bucket_size is not None:
        big = (
            banded.groupBy("band", "key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "key")
        )
        if on_drop is not None:
            on_drop(big.count())
        banded = banded.join(big, ["band", "key"], "left_anti")
    a = banded.select("band", "key", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash60(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document from whitespace tokens.

    60 (not 64) bits: token hashes are the md5 15-hex-digit prefix
    (`_md5_int`), the widest prefix whose value is computable identically
    in Spark builtins and ANSI SQL without signed-64 overflow.

    bit_j(doc) = 1 if sum over distinct tokens of sign(bit_j(h(token)))>0.
    Pure expression dataflow: explode tokens -> per-bit +/-1 via bitwise
    tests -> groupBy sum -> reassemble bits.
    """
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    ).withColumn("h", _md5_int(F.col("tok")))
    per_bit = toks.select(
        "doc_id",
        *[
            F.when(F.expr(f"(h div {1 << j}) % 2") == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"b{j}")
            for j in range(60)
        ],
    )
    agg = per_bit.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(60)]
    )
    sim = agg.select(
        "doc_id",
        sum(
            (F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(60)),
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sim


def embedding_cosine_dups(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_planes: int = 6,
    lsh_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.

    Two physical strategies behind one contract (``(a_id, b_id, cos)``
    with ``a_id < b_id``):

    - ``lsh_planes == 0`` — exact all-pairs (broadcast nested-loop on the
      smaller side). O(N²): the correctness baseline, OPT-IN ONLY for
      oracle-checked bounded inputs — calling it on a large table is a
      cross-product explosion by construction.
    - ``lsh_planes > 0`` (the DEFAULT; planes=6/tables=4/seed=42 is the
      exact configuration the ``dedup_embedding_lsh`` driver query
      certifies against its SQL twin — defaults and certified config are
      deliberately the same values. NOTE: the default flipped from
      exact-all-pairs to LSH in round 2; callers needing the exact
      baseline must opt in with ``lsh_planes=0``) — hyperplane-LSH
      blocking (same sign-pattern
      bucketing as kgp.ops.similarity.cosine_topk_lsh): pairs are only
      compared within a shared bucket of one of ``lsh_tables`` independent
      tables, an equi-join on the bucket id. Near-identical vectors
      collide with probability (1 - theta/pi)^planes per table; recall is
      tunable via planes/tables. This is the 100 TB path.

    Dot products accumulate as double in array order — bit-identical to
    the DuckDB oracle's list_transform/list_aggregate formulation.
    """
    from kgp.ops.similarity import _bucket_expr, _dot, _hyperplanes, _norm

    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_emb"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_emb"))
    if lsh_planes > 0:
        tables = [_hyperplanes(dim, lsh_planes, seed + t) for t in range(lsh_tables)]
        at = a.select(
            "*", *[_bucket_expr(F.col("a_emb"), tables[t]).alias(f"k{t}") for t in range(lsh_tables)]
        )
        bt = b.select(
            "*", *[_bucket_expr(F.col("b_emb"), tables[t]).alias(f"k{t}") for t in range(lsh_tables)]
        )
        cand = None
        for t in range(lsh_tables):
            c = at.join(bt, at[f"k{t}"] == bt[f"k{t}"]).select("a_id", "a_emb", "b_id", "b_emb")
            cand = c if cand is None else cand.unionByName(c)
        pairs = cand.where(F.col("a_id") < F.col("b_id")).dropDuplicates(["a_id", "b_id"])
    else:
        pairs = a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
    return (
        pairs.select(
            "a_id",
            "b_id",
            (
                _dot(F.col("a_emb"), F.col("b_emb"))
                / (_norm("a_emb") * _norm("b_emb"))
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )
