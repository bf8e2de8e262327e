"""Deduplication operators for the LLM-data-pipeline surface (SURVEY.md
§2.J): exact, MinHash+LSH near-dup, SimHash.

100 TB design: nothing here ever cross-joins the corpus. Candidate
generation is banding + groupBy(band hash) -- join fan-out is bounded by
bucket sizes -- and only candidates pay the exact-Jaccard verification.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_expr, tokens_expr
from .caching import persist_bounded as _persist_bounded  # one live cache per slot


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct text (deterministic, unlike
    dropDuplicates). One shuffle on the text hash."""
    w = Window.partitionBy(text_col).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
        "__rn"
    )


def doc_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) exploded distinct word n-gram shingles per document."""
    return df.select(
        F.col(id_col),
        F.explode(shingles_expr(tokens_expr(), n)).alias("shingle"),
    )


_MERSENNE_31 = (1 << 31) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash constants (a, b), a != 0, mod 2^31-1."""
    rng = random.Random(7)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_perm)
    ]


def _base_hash(shingle: Column, reproducible: bool = False) -> Column:
    """Per-shingle base hash in [0, 2^31-1): xxhash64, or -- when
    ``reproducible`` -- the first 32 md5 bits (the md5_int idiom of
    operators/sketches.py), which any engine with md5 + hex parsing
    computes identically. xxhash64 is one JVM hash call; md5 adds a hex
    parse per shingle."""
    m = F.lit(_MERSENNE_31)
    if reproducible:
        return F.pmod(F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long"), m)
    return F.pmod(F.xxhash64(shingle), m)


def minhash_signatures(
    shingled: DataFrame, num_perm: int = 32, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per document: one base hash per shingle, then
    num_perm universal-hash permutations sig_j = min((a_j*h + b_j) mod
    (2^31-1)) -- 1 hash + num_perm mul-adds per row instead of num_perm
    full hash calls. All arithmetic stays under 2^62 (ANSI mode on Spark 4
    makes silent wrap-around an error, so the classic overflow trick is
    off the table). One pass, one shuffle, map-side partial min."""
    h = _base_hash(F.col("shingle"))
    aggs = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE_31))).alias(f"sig_{j}")
        for j, (a, b) in enumerate(_perm_constants(num_perm))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


#: Max base hashes vectorized per numpy slab inside _fold_min_perms_arrow
#: (module-level so tests can shrink it to exercise the chunked paths).
_FOLD_SLAB = 1 << 18


def _fold_min_perms_arrow(
    hashed: DataFrame, num_perm: int, id_col: str
) -> DataFrame:
    """Turn (id, _hs array<long>) base-hash rows into MinHash signatures by
    folding the universal-hash permutations in ONE vectorized numpy stage.

    A JVM expression fold (F.aggregate + zip_with) is interpreted per array
    element -- no codegen for higher-order-function lambdas -- and that
    interpretation dominates signature cost at 32 permutations. Here only
    (id, base hashes) cross the Arrow boundary (a few bytes per shingle,
    never text), and the permutation mins compute as two int64 matrix ops
    per batch: (h[:, None] * A + B) % M, then a segmented min over each
    row's slice. Arithmetic is IDENTICAL to minhash_signatures (int64
    exact, all values < 2^62): same constants, same mod, same mins.
    """
    import numpy as np
    import pyarrow as pa

    consts = _perm_constants(num_perm)
    a_np = np.array([a for a, _ in consts], dtype=np.int64)
    b_np = np.array([b for _, b in consts], dtype=np.int64)
    m = _MERSENNE_31
    names = [id_col] + [f"sig_{j}" for j in range(num_perm)]
    out_schema = ", ".join(f"{n} long" for n in names)

    # Bound the vectorization temporaries: the (hashes x num_perm) int64
    # product matrix is the big allocation (a 10k-row Arrow batch of
    # long documents can hold tens of millions of hashes -> multi-GB
    # temporaries). Fold at most _FOLD_SLAB hashes per slab (2 temporaries
    # of <= slab * num_perm int64s, ~64 MB each at num_perm=32), carrying
    # the row-segment boundaries; min-of-slab-mins == min-of-all, so the
    # signatures are bit-identical to the unchunked fold.
    _SLAB = _FOLD_SLAB

    def fold(batches):
        for batch in batches:
            ids = batch.column(0)
            hs = batch.column(1)
            # list<int64> = one contiguous values buffer + offsets; slice
            # out this batch's window (zero-copy) before vectorizing
            offs = hs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = hs.values.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = vals[offs[0]:offs[-1]]
            offs = offs - offs[0]
            if len(vals) == 0:
                continue
            n_rows = len(offs) - 1
            sigs = np.empty((n_rows, num_perm), dtype=np.int64)
            i = 0
            while i < n_rows:
                # grow [i, j) while the slab stays under budget (always
                # taking at least one row)
                j = i + 1
                while j < n_rows and offs[j + 1] - offs[i] <= _SLAB:
                    j += 1
                lo, hi = offs[i], offs[j]
                if hi - lo <= _SLAB:
                    perm = (vals[lo:hi, None] * a_np[None, :] + b_np[None, :]) % m
                    # rows are non-empty by construction (callers filter
                    # docs with fewer than n tokens), so every reduceat
                    # segment is valid
                    sigs[i:j] = np.minimum.reduceat(perm, offs[i:j] - lo, axis=0)
                else:
                    # one row alone exceeds the slab: running min over
                    # value-chunks of that row (same arithmetic, same min)
                    acc = np.full(num_perm, np.iinfo(np.int64).max)
                    for s in range(lo, hi, _SLAB):
                        chunk = (
                            vals[s:min(s + _SLAB, hi), None] * a_np[None, :]
                            + b_np[None, :]
                        ) % m
                        np.minimum(acc, chunk.min(axis=0), out=acc)
                    sigs[i] = acc
                i = j
            cols = [pa.array(sigs[:, j], type=pa.int64()) for j in range(num_perm)]
            yield pa.RecordBatch.from_arrays([ids] + cols, names=names)

    return hashed.mapInArrow(fold, out_schema)


def minhash_signatures_inrow(
    docs: DataFrame,
    num_perm: int = 32,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    reproducible: bool = False,
) -> DataFrame:
    """MinHash signatures with ZERO shuffle: the shingle set never leaves
    the row. Base hashes (_base_hash) are computed JVM-side over the
    in-row shingle array, then the permutation mins fold in one vectorized
    Arrow stage (_fold_min_perms_arrow). With the default xxhash64 base
    hash the signatures are bit-identical to minhash_signatures over
    doc_shingles (same constants, same arithmetic), without the exploded
    shingle relation's groupBy (a full shuffle of ~200x the corpus row
    count). Documents too short to have a single shingle are dropped,
    mirroring minhash_signatures (they produce no exploded rows there)."""
    hs = F.transform(
        shingles_expr(tokens_expr(), shingle_n),
        lambda s: _base_hash(s, reproducible),
    )
    # Guard on the CHEAP equivalent predicate (shingles are empty iff the
    # doc has < n tokens): a guard on size(_hs) gets predicate-pushed below
    # the caller's repartition with the whole shingling expression
    # substituted in -- serializing the hash work into the (often
    # single-task) scan stage and computing it twice.
    base = docs.where(F.size(tokens_expr()) >= shingle_n).select(
        F.col(id_col), hs.alias("_hs")
    )
    return _fold_min_perms_arrow(base, num_perm, id_col)


def _band_rows(
    signatures: DataFrame,
    num_perm: int,
    bands: int,
    id_col: str = "doc_id",
    exact: bool = False,
) -> DataFrame:
    """(id, band_id, band_key) per document and band of num_perm // bands
    signature slots. The key is xxhash64 over the band's slots, or with
    ``exact`` the raw slot tuple as a collision-free string: candidate
    generation then means exactly 'some band's slots all equal', which
    plain SQL replays as equi-joins (the dedup_near oracle)."""
    rows_per_band = num_perm // bands

    def key(b: int) -> Column:
        slots = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        return F.concat_ws(",", *slots) if exact else F.xxhash64(*slots)

    cols = [
        F.struct(F.lit(b).alias("band_id"), key(b).alias("band_key"))
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    exact: bool = False,
) -> DataFrame:
    """LSH banding: key each band of rows_per_band signature slots
    (_band_rows), then self-join *within* (band_id, band_key) buckets ->
    candidate (a, b) pairs, a < b, distinct.

    Scale shape: explode to bands (xN rows), groupBy-join on the band key --
    fan-out bounded by bucket size; skewed buckets (boilerplate text) split
    by AQE skew-join. Never a corpus cross-join.
    """
    banded = _band_rows(signatures, num_perm, bands, id_col, exact)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def verify_jaccard(
    candidates: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs only: join each side's shingle set,
    count intersections, divide by union size."""
    counts = shingled.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    sa = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


def near_duplicates_minhash(
    df: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    reproducible: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, candidate-verify formulation: in-row
    signatures (zero shuffle -- the shingle set never leaves the row) ->
    banding/bucket join -> exact-Jaccard verify that shingles ONLY the
    documents appearing in some candidate pair. Verification cost scales
    with the candidate set, not the corpus -- the shape you want when
    near-dups are sparse (every real training corpus) and on cold sessions
    where a persisted corpus-wide shingle relation never amortizes.

    ``reproducible`` makes every stage deterministic arithmetic another
    engine can replay: md5 base hashes and raw-tuple bands, so the output
    -- including which pairs banding surfaces -- is oracle-checkable, not
    recall-probabilistic from the oracle's view (dedup_near). The default
    xxhash64 path returns the same pairs as the grouped composition
    verify_jaccard(lsh_candidate_pairs(minhash_signatures(sh)), sh)."""
    # Fan the (narrow) doc rows across all cores before the in-row work --
    # a single-row-group parquet file otherwise pins it to one task.
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    slot = "minhash_md5" if reproducible else "minhash_inrow"
    # persist the signatures BEFORE banding: the band self-join has two
    # scans of this relation, and unpersisted each side would recompute
    # every per-shingle base hash + permutation fold
    sigs = _persist_bounded(
        f"{slot}_sigs",
        minhash_signatures_inrow(
            df, num_perm=num_perm, shingle_n=shingle_n, reproducible=reproducible
        ),
    )
    cands = _persist_bounded(
        f"{slot}_cands",
        lsh_candidate_pairs(sigs, num_perm=num_perm, bands=bands, exact=reproducible),
    )
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionAll(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = df.join(cand_ids, "doc_id", "left_semi")
    # persisted for the same reason as the signatures: verify_jaccard
    # joins this relation on BOTH pair sides, and it is bounded by the
    # candidate count, not the corpus
    shingled = _persist_bounded(
        f"{slot}_shingled", doc_shingles(cand_docs, n=shingle_n)
    )
    return verify_jaccard(cands, shingled).where(F.col("jaccard") >= threshold)


def near_duplicates_incremental(
    new_docs: DataFrame,
    corpus_shingled: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Continuous-ingest near-dup: check NEW documents against an EXISTING
    corpus without re-hashing the corpus. ``corpus_shingled`` is the stored
    (id, shingle) relation (at 100 TB: a parquet staging table maintained
    by the ingest pipeline; signatures/bands derive from it once per batch).

    Returns (id_a=corpus doc, id_b=new doc) pairs over the threshold. The
    corpus side is touched only through band-bucket joins + candidate
    verification -- cost scales with the new batch, not the corpus.
    """
    new_shingled = _persist_bounded(
        "incremental_new_shingled", doc_shingles(new_docs, n=shingle_n)
    )

    def banded(shingled: DataFrame, out_id: str) -> DataFrame:
        sigs = minhash_signatures(shingled, num_perm=num_perm)
        return _band_rows(sigs, num_perm, bands).withColumnRenamed("doc_id", out_id)

    cands = (
        banded(corpus_shingled, "id_a")
        .join(banded(new_shingled, "id_b"), ["band_id", "band_key"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    both = corpus_shingled.unionByName(new_shingled)
    return verify_jaccard(cands, both).where(F.col("jaccard") >= threshold)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over distinct tokens, emitted as two
    32-bit halves (simhash_lo = bits 0..31, simhash_hi = bits 32..63) to
    stay in non-negative long range.

    Per token: h = xxhash64(token); bit i contributes +1 if set else -1;
    signature bit i = (sum_i > 0). Single explode + one groupBy with 64
    conditional-sum expressions (map-side partial aggregation).
    """
    tok = df.select(F.col(id_col), F.explode(F.array_distinct(tokens_expr())).alias("token"))
    h = F.xxhash64(F.col("token"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    lo = None
    hi = None
    for i in range(32):
        bit_lo = F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(0)
        bit_hi = F.when(F.col(f"s_{i + 32}") > 0, F.lit(1 << i)).otherwise(0)
        lo = bit_lo if lo is None else lo + bit_lo
        hi = bit_hi if hi is None else hi + bit_hi
    return agg.select(
        id_col, lo.cast("long").alias("simhash_lo"), hi.cast("long").alias("simhash_hi")
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word n-gram
    with the benchmark set (the train/test-overlap gate every training-data
    pipeline runs before shipping a corpus).

    Shape: shingle both sides, semi-join on the shingle (inverted index --
    candidates meet through shared shingles, never a cross join), left join
    the flag back. The benchmark side is small in practice -> its distinct
    shingle set broadcasts; corpus-side shingling streams.

    n=4 suits the synthetic fixture (near-zero natural 8-gram overlap);
    production decontamination uses 8-13-gram windows on the same plumbing.
    """
    bsh = doc_shingles(benchmark, n=n, id_col=id_col).select("shingle").distinct()
    csh = doc_shingles(corpus, n=n, id_col=id_col)
    flagged = (
        csh.join(F.broadcast(bsh), "shingle")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return corpus.join(flagged, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def jaccard_prefix_candidates(
    shingled: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08): order each document's shingle set by ascending
    global document frequency (rarest first); any two sets with
    Jaccard >= t MUST share a shingle within each one's first
    |set| - ceil(t * |set|) + 1 entries. Index ONLY those prefixes and
    generate candidates from the prefix inverted index.

    Why this is the scale move over the full inverted-index self-join:
    (a) the index shrinks to the prefix fraction (~(1-t) of entries);
    (b) the hottest shingles -- the skewed posting lists that dominate the
    full join's fan-out -- sort LAST and rarely land in any prefix, so the
    worst buckets never generate candidates; (c) the companion length
    filter (t*|A| <= |B|) prunes cross-size pairs before verification.
    Exact, not approximate: recall is 100% by the prefix lemma (pinned in
    pytest against the full-index join)."""
    gdf = shingled.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = shingled.join(gdf, "shingle").select(
        F.col(id_col),
        "shingle",
        F.row_number()
        .over(
            Window.partitionBy(id_col).orderBy("df", "shingle")
        )
        .alias("pos"),
        F.count("*").over(Window.partitionBy(id_col)).alias("n"),
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle",
        F.col("n").alias("n_a"), F.col("pos").alias("pos_a"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle",
        F.col("n").alias("n_b"), F.col("pos").alias("pos_b"),
    )
    # PPJoin positional filter (Xiao et al., WWW'08 §3.2): a pair meeting
    # at prefix positions (pos_a, pos_b) can share at most
    # 1 + min(n_a - pos_a, n_b - pos_b) shingles, and Jaccard >= t needs
    # overlap >= t/(1+t) * (n_a + n_b). Keeping the pair if ANY meeting
    # passes is a superset of PPJoin's candidate set => still exact, but
    # it prunes INSIDE the bucket join, before the distinct shuffle --
    # on the sf1 degenerate-vocab corpus this is the difference between
    # a quadratic candidate blow-up and a bounded one (637s -> measured
    # below; see SCALE.md).
    min_overlap = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("n_a") + F.col("n_b"))
    )
    ubound = 1 + F.least(
        F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
    )
    return (
        pa.join(pb, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: Jaccard >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
            & (ubound >= min_overlap)
        )
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_join_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact threshold Jaccard self-join via prefix filtering: candidates
    from jaccard_prefix_candidates, then exact verification over the full
    shingle sets. Identical output to the full inverted-index join at the
    same threshold -- only the candidate-generation strategy differs."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    shingled = _persist_bounded(
        "jaccard_prefix_shingled", doc_shingles(docs, n=shingle_n)
    )
    cands = jaccard_prefix_candidates(shingled, threshold=threshold, id_col=id_col)
    return verify_jaccard(cands, shingled, id_col=id_col).where(
        F.col("jaccard") >= threshold
    )
