"""Document deduplication at training-data scale: exact, MinHash-LSH,
SimHash, and n-gram-Jaccard.

Scale contract (the design constraint for every operator here): **no
all-pairs stage, ever**. Candidate pairs come from hash-bucket joins
(LSH bands / SimHash bands / fingerprint equality), so the shuffle key
is always a bucket id and the worst case is quadratic only *within a
bucket*, never across the corpus.

Signature computation is a two-layer split measured to be the fastest
arrangement: string work (tokenize, per-word ``xxhash64``) stays
JVM-side in codegen, and the O(num_hashes × n) permutation math runs
as Arrow-vectorized numpy kernels (pandas_udf) — pure-expression
versions of the same math need 64 interpreted higher-order-function
passes per row and measured 3-5× slower. No row-at-a-time Python
anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jodie_spark.functions.text import doc_fingerprint
from jodie_spark.functions.vectors import cosine_similarity, random_hyperplane_signature



# ---------------------------------------------------------------------------
# exact / near-exact
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality_col: str | None = None,
) -> DataFrame:
    """Keep one document per *normalized-content* fingerprint
    (case/whitespace-insensitive md5): the lowest id by default, or —
    with ``quality_col`` — the HIGHEST-quality copy (ties break to the
    lowest id), the FineWeb-style election that keeps the best-scored
    canonical copy of each page instead of whichever crawled first.

    Election is ``groupBy(fp).agg(min_by/max_by(row, key))`` — one
    scan, one shuffle, and (unlike a ``row_number`` window) map-side
    combine collapses a crawl's million-copy hot fingerprint (empty
    pages, error pages) to one candidate row per partition before
    anything moves."""
    cols = df.columns
    row = F.struct(*[F.col(c) for c in cols])
    if quality_col is None:
        elected = F.min_by(row, F.col(id_col))
    else:
        # min over (coalesce(-quality, +inf), id): highest quality,
        # then lowest id. Negating QUALITY (numeric by contract — it's
        # a score) rather than the id keeps the election correct for
        # STRING ids, which a -id would silently cast to double NULL
        # (non-ANSI) or error on (ANSI). The coalesce to +inf pins
        # NULL-quality copies LAST — a bare -NULL is NULL, which sorts
        # smallest in struct comparison and would let an unscored copy
        # beat every scored one.
        elected = F.min_by(
            row,
            F.struct(
                F.coalesce(
                    -F.col(quality_col).cast("double"), F.lit(float("inf"))
                ).alias("__negq__"),
                F.col(id_col).alias("__id__"),
            ),
        )
    return (
        df.groupBy(doc_fingerprint(F.col(text_col)).alias("__fp__"))
        .agg(elected.alias("__row__"))
        .select("__row__.*")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------

def _word_tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda w: F.length(w) > 0)


def shingles(col: Column, n: int = 5) -> Column:
    """Distinct word ``n``-grams; documents shorter than ``n`` words
    yield one shingle (all their words)."""
    # the word array reaches the per-shingle lambda via a lambda
    # variable — a free column expression would be inlined by Catalyst
    # and re-tokenize the document once per shingle (O(len²) per doc;
    # see functions/vectors.int8_quantize for the pattern)
    grams = F.transform(
        F.array(F.struct(_word_tokens(col).alias("w"))),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(s["w"]) - n + 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(s["w"], i, n)),
        ),
    )[0]
    return F.array_distinct(grams)


def _minhash_params(num_hashes: int):
    rng = np.random.default_rng(0x5EED)
    a = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a, b


def minhash_signature_from_hashes(base_hash_col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature from per-shingle base hashes: permutation ``i``
    is the affine universal hash ``a_i*h + b_i (mod 2^64)`` over the
    base long — the standard Broder construction.

    Implemented as an Arrow-vectorized pandas_udf: the string hashing
    (the expensive part) stays JVM-side in ``xxhash64``; the 64-way
    re-hash + min is one numpy matrix op per batch. A pure expression
    alternative needs 64 interpreted higher-order-function passes per
    row and measures ~5× slower — this is the documented "built-ins
    can't express it efficiently" case for a vectorized UDF.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a, b = _minhash_params(num_hashes)

    @pandas_udf(ArrayType(LongType()))
    def sig(batch: pd.Series) -> pd.Series:
        out = []
        empty = (b % np.uint64(2**63)).astype(np.int64)  # deterministic for no-shingle docs
        with np.errstate(over="ignore"):
            for hashes in batch:
                if hashes is None or len(hashes) == 0:
                    out.append(empty)
                    continue
                h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
                # (num_hashes × n_shingles) re-hash, min per permutation
                m = (a[:, None] * h[None, :] + b[:, None]).min(axis=1)
                out.append(m.view(np.int64))
        return pd.Series(out)

    return sig(base_hash_col)


def minhash_signature_from_word_hashes(
    word_hash_col: Column, num_hashes: int = 64, shingle_size: int = 5
) -> Column:
    """MinHash signature computed directly from per-word hashes: shingle
    hashes are a position-weighted rolling combine of ``shingle_size``
    consecutive word hashes (no shingle *strings* are ever built — at
    corpus scale the string materialization dominates the cost), then
    the affine permutation minima. One vectorized numpy pass per batch.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    a, b = _minhash_params(num_hashes)
    pos_w = np.arange(1, shingle_size + 1, dtype=np.uint64) * np.uint64(
        0x9E3779B97F4A7C15
    ) | np.uint64(1)

    @pandas_udf(ArrayType(LongType()))
    def sig(batch: pd.Series) -> pd.Series:
        out = []
        empty = (b % np.uint64(2**63)).astype(np.int64)
        with np.errstate(over="ignore"):
            for hashes in batch:
                if hashes is None or len(hashes) == 0:
                    out.append(empty)
                    continue
                wh = np.asarray(hashes, dtype=np.int64).view(np.uint64)
                if len(wh) < shingle_size:
                    sh = (wh * pos_w[: len(wh)]).sum(keepdims=True)
                else:
                    sw = np.lib.stride_tricks.sliding_window_view(wh, shingle_size)
                    sh = (sw * pos_w[None, :]).sum(axis=1)
                m = (a[:, None] * sh[None, :] + b[:, None]).min(axis=1)
                out.append(m.view(np.int64))
        return pd.Series(out)

    return sig(word_hash_col)


def minhash_signature(shingle_col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: each shingle string is xxhash64'd once, then
    re-hashed affinely per permutation. Convenience single-expression
    form; hot paths should materialize ``transform(sh, xxhash64)`` as a
    column and use :func:`minhash_signature_from_hashes`."""
    return minhash_signature_from_hashes(
        F.transform(shingle_col, lambda s: F.xxhash64(s)), num_hashes
    )


def _banded(sig_col: str, num_hashes: int, bands: int) -> Column:
    """Array of (band_id, band_hash) structs; docs agreeing on any full
    band become bucket-mates (LSH banding). Takes the signature COLUMN
    NAME and builds one ``F.expr`` — the per-band Column-API version
    cost ~0.25 s of driver py4j round-trips per call at bands=16 (r13
    cProfile: 0.78 s across minhash_index_probe's three calls), all of
    it parse-once server-side now."""
    rows = num_hashes // bands
    # backticked identifier: a literal backtick inside the name must be
    # doubled or it terminates the quote and breaks the expression
    quoted = "`" + sig_col.replace("`", "``") + "`"
    parts = ", ".join(
        f"struct({b} as band, xxhash64(slice({quoted}, {b * rows + 1}, {rows})) as bucket)"
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(id_a, id_b)`` with ``id_a <
    id_b``: documents sharing at least one LSH band bucket. The join is
    a self-equi-join on (band, bucket) — shuffle on bucket id only."""
    sigs = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(_word_tokens(F.col(text_col)), lambda w: F.xxhash64(w)).alias("wh"),
        )
        .withColumn(
            "sig", minhash_signature_from_word_hashes(F.col("wh"), num_hashes, shingle_size)
        )
        .withColumn("bb", F.explode(_banded("sig", num_hashes, bands)))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        # materialize the banded keys ONCE: the self-join below otherwise
        # evaluates the whole signing pipeline (tokenize + xxhash64 +
        # Arrow-vectorized minhash over every document) on BOTH sides —
        # the r13 plan capture shows two ArrowEvalPython subtrees and no
        # exchange reuse (broadcast join at local scale). The proxy is
        # (id, band, bucket) — bands × 24ish bytes per doc, the §8
        # "decide with small rows" shape — so storing it costs far less
        # than a second full-corpus signature pass at any scale.
        .localCheckpoint(eager=False)
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def connected_component_reps(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Minimum-id representative per connected component of an
    undirected pair graph: ``(id, rep)`` for every id appearing in
    ``pairs``.

    Adaptive: near-duplicate pair graphs are a vanishing fraction of
    the corpus, so up to ``driver_threshold`` pairs the component
    election is a driver-side union-find (microseconds; one collect
    bounded by the threshold) instead of a dozen scheduled Spark jobs.
    Beyond that it runs distributed: min-label propagation with
    pointer jumping (``rep ← rep[rep]`` each round) — O(log diameter)
    rounds of joins over the pair graph only, localCheckpointed to
    truncate lineage, convergence detected via the monotone-decreasing
    sum of labels (one tiny action per round)."""
    spark = pairs.sparkSession
    narrow = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # one probe collect, capped at threshold+1 rows: if the graph is
    # small we already hold it (pair pipeline ran exactly once)
    rows = narrow.limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union into the smaller root: roots stay component minima
                parent[max(ra, rb)] = min(ra, rb)
        id_type = dict(zip(pairs.columns, [f.dataType for f in pairs.schema.fields]))[id_a]
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("id", id_type), T.StructField("rep", id_type)]
        )
        return spark.createDataFrame(
            [(x, find(x)) for x in parent], schema
        )

    edges = (
        narrow
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    try:
        lab = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("__nb__"))
            .select(F.col("src").alias("id"), F.least("src", "__nb__").alias("rep"))
            .localCheckpoint(eager=True)
        )
        prev_sum = lab.agg(F.sum("rep")).collect()[0][0]
        for _ in range(max_iter):
            nb = (
                edges.join(
                    lab.select(F.col("id").alias("dst"), F.col("rep").alias("__dr__")), "dst"
                )
                .groupBy("src")
                .agg(F.min("__dr__").alias("__nb__"))
                .select(F.col("src").alias("id"), "__nb__")
            )
            new = lab.join(nb, "id", "left").select(
                "id", F.least("rep", F.coalesce("__nb__", "rep")).alias("rep")
            )
            # pointer jumping: follow rep one extra hop
            hop = new.select(F.col("id").alias("__rid__"), F.col("rep").alias("__rrep__"))
            new = (
                new.join(hop, new["rep"] == hop["__rid__"], "left")
                .select("id", F.least("rep", F.coalesce("__rrep__", "rep")).alias("rep"))
                .localCheckpoint(eager=True)
            )
            cur_sum = new.agg(F.sum("rep")).collect()[0][0]
            lab = new
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        return lab
    finally:
        edges.unpersist()


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    verify_threshold: float | None = None,
    transitive: bool = False,
    quality_col: str | None = None,
) -> DataFrame:
    """Drop near-duplicate documents found via MinHash LSH.

    Default mode is the single-pass bucket election: drop documents
    that share an LSH band bucket with a lower-id document (per
    bucket, the min id survives; chains longer than one hop keep or
    drop by bucket luck).

    ``verify_threshold`` adds an exact n-gram-Jaccard verification of
    every candidate pair, so false bucket collisions never drop a
    document — the drop set is defined purely by true Jaccard ≥
    threshold, which makes the result brute-force checkable.

    ``transitive=True`` elects one survivor (the min id) per
    *connected component* of the pair graph instead of per pair, so a
    chain A~B~C dedupes to exactly {A} regardless of bucketing luck
    (:func:`connected_component_reps`).

    ``quality_col`` switches the survivor election from lowest-id to
    HIGHEST-quality (ties → lowest id) per duplicate cluster — the
    FineWeb-style policy that keeps the best-scored copy instead of
    whichever crawled first. Implies the transitive component election
    (per-pair quality drops would be inconsistent on overlapping
    pairs). Scale shape is unchanged: the election joins only the
    (id, rep, quality) triples of documents that appear in some pair —
    a vanishing fraction of the corpus — never the text."""
    if quality_col is not None:
        transitive = True
    if verify_threshold is not None or transitive:
        if verify_threshold is not None:
            pairs = ngram_jaccard_pairs(
                df, text_col, id_col, verify_threshold, shingle_size, num_hashes, bands
            ).select("id_a", "id_b")
        else:
            pairs = minhash_candidate_pairs(
                df, text_col, id_col, num_hashes, bands, shingle_size
            )
        reps = None
        if transitive:
            reps = connected_component_reps(pairs)
        if quality_col is not None:
            members = reps.join(
                df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q__")),
                "id",
            )
            # min over (coalesce(-quality, +inf), id) — string-id-safe
            # and NULL-quality-safe tie-break, same reasoning as
            # exact_dedup's election above
            keepers = members.groupBy("rep").agg(
                F.min_by(
                    F.col("id"),
                    F.struct(
                        F.coalesce(
                            -F.col("__q__").cast("double"), F.lit(float("inf"))
                        ).alias("__negq__"),
                        F.col("id").alias("__id__"),
                    ),
                ).alias("__keep__")
            )
            dropped = (
                members.join(keepers, "rep")
                .filter(F.col("id") != F.col("__keep__"))
                .select(F.col("id").alias(id_col))
            )
        elif transitive:
            dropped = (
                reps.filter(F.col("id") != F.col("rep"))
                .select(F.col("id").alias(id_col))
            )
        else:
            dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return df.join(dropped, id_col, "left_anti")
    # project to (id, band, bucket) BEFORE the explode/shuffle — the wide
    # text column must not ride through a 16×-amplified exchange
    sigs = (
        df.select(
            F.col(id_col).alias("__id__"),
            F.transform(_word_tokens(F.col(text_col)), lambda w: F.xxhash64(w)).alias("__wh__"),
        )
        .withColumn(
            "__sig__",
            minhash_signature_from_word_hashes(F.col("__wh__"), num_hashes, shingle_size),
        )
        .withColumn("__bb__", F.explode(_banded("__sig__", num_hashes, bands)))
        .select("__id__", F.col("__bb__.band").alias("__band__"), F.col("__bb__.bucket").alias("__bucket__"))
    )
    # per-bucket min via groupBy (map-side combine absorbs a hot LSH
    # bucket — e.g. near-empty docs all hashing together) + an AQE-
    # splittable equi-join back, instead of a min() window that pins
    # the whole bucket into one task
    bucket_min = sigs.groupBy("__band__", "__bucket__").agg(
        F.min("__id__").alias("__bmin__")
    )
    survivors = (
        sigs.join(bucket_min, ["__band__", "__bucket__"])
        .groupBy("__id__")
        .agg(F.min("__bmin__").alias("__rep__"))
        .filter(F.col("__id__") == F.col("__rep__"))
        .select(F.col("__id__").alias(id_col))
    )
    return df.join(survivors, id_col, "left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_size: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Exact-Jaccard-verified near-duplicate pairs: LSH candidates
    (bounded), then ``|A∩B| / |A∪B|`` on the true shingle sets. Returns
    (id_a, id_b, jaccard ≥ threshold)."""
    # lazy local checkpoint: the LSH pipeline materializes once on first
    # action and is reused by the id-restriction and both verify joins
    cands = minhash_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_size
    ).localCheckpoint(eager=False)
    # shingle only the documents that appear in a candidate pair — the
    # verify stage is O(candidates), never a second full-corpus pass
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_size).alias("sh"))
    )
    return (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(col: Column, bits: int = 64) -> Column:
    """Charikar SimHash over word tokens: per bit position, the sign of
    the ±1 vote sum across word hashes, packed into a long.

    Word hashing stays JVM-side (``xxhash64`` over the token array);
    the per-bit vote sum + sign packing is an Arrow-vectorized
    pandas_udf — one numpy bit-matrix op per batch instead of 64
    interpreted higher-order-function passes per row.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    word_hashes = F.transform(_word_tokens(col), lambda w: F.xxhash64(w))
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.uint64)

    @pandas_udf(LongType())
    def pack(batch: pd.Series) -> pd.Series:
        out = np.zeros(len(batch), dtype=np.uint64)
        for idx, hashes in enumerate(batch):
            if hashes is None or len(hashes) == 0:
                continue
            h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
            bits_m = (h[:, None] >> shifts[None, :]) & np.uint64(1)  # (n_words × bits)
            votes = (2 * bits_m.astype(np.int64) - 1).sum(axis=0)
            out[idx] = ((votes > 0).astype(np.uint64) * weights).sum()
        return pd.Series(out.view(np.int64))

    return pack(word_hashes)


def hamming_dedup(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic 64-bit-hash near-dup removal: band the hash into
    ``bands`` equal bit-slices (pigeonhole: hamming ≤ bands-1 ⇒ at
    least one band equal), bucket-join, verify ``bit_count(xor) ≤
    max_hamming``, drop the higher id of each verified pair. Works on
    any 64-bit similarity-preserving hash — text SimHash, image
    dHash/pHash."""
    dup_ids = _hamming_dup_ids(
        df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("sh")),
        max_hamming,
        bands,
    )
    return df.join(dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti")


def _hamming_dup_ids(
    h: DataFrame, max_hamming: int, bands: int, materialized: bool = False
) -> DataFrame:
    """Higher ids of verified near-dup pairs from an ``(id, sh)`` hash
    frame. The frame is materialized once (lazy localCheckpoint): the
    banded self-join otherwise evaluates the hash-producing pipeline —
    a pandas_udf SimHash or a full media decode — on BOTH join sides
    (r13 plan capture: duplicated ArrowEvalPython/MapInPandas subtrees,
    no exchange reuse under the local broadcast plan). The proxy is two
    longs per row, the §8 "decide with small rows" shape."""
    # the band-key construction is shared with the persisted hamming
    # index — the pigeonhole recall contract requires both to band
    # identically (hamming_index.py module doc)
    from jodie_spark.operators.hamming_index import _banded_keys

    if not materialized:  # callers pass True when h is already checkpointed
        h = h.localCheckpoint(eager=False)
    banded = h.select(
        "id", "sh",
        F.explode(_banded_keys(F.col("sh"), bands)).alias("bk"),
    ).select("id", "sh", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= max_hamming)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup removal by text SimHash — the banded
    :func:`hamming_dedup` over :func:`simhash`.

    The SimHash pandas_udf is evaluated exactly ONCE, on the
    ``(id, sh)`` proxy inside :func:`_hamming_dup_ids`; the final
    anti-join keeps the caller's frame untouched (the old
    withColumn → drop shape re-evaluated the UDF on the output side
    and on both banded join sides — 32 ArrowEvalPython nodes in the
    r13 simhash_dedup plan capture, now 2)."""
    dup_ids = _hamming_dup_ids(
        df.select(
            F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sh")
        ),
        max_hamming,
        bands,
    )
    return df.join(dup_ids.withColumnRenamed("id", id_col), id_col, "left_anti")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 2,
) -> DataFrame:
    """Embedding near-duplicate removal: sign-random-projection buckets
    (``n_tables`` independent hyperplane sets to cut misses), exact
    cosine verification within buckets, drop the higher id of each pair
    with similarity ≥ threshold."""
    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for tbl in range(n_tables):
        keyed = keyed.withColumn(
            f"__sig{tbl}__",
            random_hyperplane_signature(F.col("v"), dim, n_planes, seed=42 + tbl),
        )
    # both sides of every self-join consume the signature columns —
    # persist so the signature kernels run once, not 2×n_tables times
    keyed = keyed.cache()
    try:
        pairs = None
        for tbl in range(n_tables):
            a = keyed.alias("a")
            b = keyed.alias("b")
            p = (
                a.join(b, F.col(f"a.__sig{tbl}__") == F.col(f"b.__sig{tbl}__"))
                .filter(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            )
            pairs = p if pairs is None else pairs.unionByName(p)
        # dedupe on the narrow id pair, then join the vectors back from
        # the persisted keyed DF — a distinct over 2×64-float payloads
        # shuffles ~50× more bytes than the ids
        va = keyed.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        vb = keyed.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        dup_ids = (
            pairs.distinct()
            .join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("sim", cosine_similarity(F.col("v_a"), F.col("v_b")))
            .filter(F.col("sim") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        # materialize only the (small) dropped-id set so `keyed` can be
        # released before the caller acts on the lazy result
        dup_ids = dup_ids.localCheckpoint(eager=True)
        return df.join(dup_ids, id_col, "left_anti")
    finally:
        keyed.unpersist()


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

def dedup_against(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    seen_text_col: str | None = None,
) -> DataFrame:
    """Drop new documents whose *normalized content* already exists in a
    previously-ingested corpus — the incremental form of
    :func:`exact_dedup` every recurring crawl/refresh pipeline needs
    (dedupe tonight's batch against everything already accepted, without
    re-deduping the whole corpus).

    ``seen_df`` may be the full prior corpus or, at scale, just its
    persisted fingerprint column — pass a one-column DataFrame of
    fingerprints named ``text_col`` with ``seen_text_col=None`` handled
    naturally, or the raw text and let this compute them. The anti-join
    shuffles 16-byte fingerprints only, never document text; Catalyst
    prunes every other ``seen_df`` column from the scan.
    """
    from jodie_spark.functions.text import doc_fingerprint

    seen_fps = (
        seen_df.select(doc_fingerprint(F.col(seen_text_col or text_col)).alias("__fp__"))
        .distinct()
    )
    return (
        new_df.withColumn("__fp__", doc_fingerprint(F.col(text_col)))
        .join(seen_fps, "__fp__", "left_anti")
        .drop("__fp__")
    )
