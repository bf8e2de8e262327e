"""Sketch semantics beyond oracle agreement: CMS never underestimates (and
overestimates only via collisions), KMV lands within a sane relative error.
Run on the real documents fixture at sf0.001."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_person_service_spark.operators.sketches import (
    cms_build,
    cms_probe,
    kmv_ndv,
)
from hive_person_service_spark.plans.sketches import _CMS_PROBES, _bigrams
from tests.conftest import SF_SMALL


def test_cms_never_underestimates(spark):
    grams = _bigrams(spark, SF_SMALL)
    exact = {
        r["g"]: r["cnt"]
        for r in grams.groupBy("g").agg(F.count("*").alias("cnt")).collect()
    }
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], ["item"])
    est = {
        r["item"]: r["cms_est"]
        for r in cms_probe(cms_build(grams, "g"), probes, "item").collect()
    }
    assert set(est) == set(_CMS_PROBES)
    for item, e in est.items():
        assert e >= exact.get(item, 0), (item, e, exact.get(item, 0))
    assert "missing pair" not in exact


def test_cms_small_width_overestimates_bounded(spark):
    # Squeeze the same stream into 64 buckets: collisions become certain,
    # est stays >= exact and within exact + n/w per CMS's guarantee
    # (with d=4 rows the bound holds overwhelmingly; assert the hard floor
    # and a loose 3n/w ceiling to keep the test deterministic-but-tight).
    grams = _bigrams(spark, SF_SMALL)
    n = grams.count()
    w = 64
    exact = {
        r["g"]: r["cnt"]
        for r in grams.groupBy("g").agg(F.count("*").alias("cnt")).collect()
    }
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], ["item"])
    est = {
        r["item"]: r["cms_est"]
        for r in cms_probe(cms_build(grams, "g", w=w), probes, "item", w=w).collect()
    }
    for item, e in est.items():
        ex = exact.get(item, 0)
        assert ex <= e <= ex + 3 * n / w, (item, e, ex, n)


def test_kmv_relative_error(spark):
    bg = _bigrams(spark, SF_SMALL)
    est = {r["lang"]: r["kmv_est"] for r in kmv_ndv(bg, "g", "lang", k=64).collect()}
    exact = {
        r["lang"]: r["ndv"]
        for r in bg.distinct()
        .groupBy("lang")
        .agg(F.countDistinct("g").alias("ndv"))
        .collect()
    }
    assert set(est) == set(exact)
    for lang, e in est.items():
        rel = abs(e - exact[lang]) / exact[lang]
        assert rel < 0.35, (lang, e, exact[lang], rel)


def test_stream_cms_equals_batch(spark, tmp_path):
    # The incrementally-maintained sketch must equal the one-shot batch
    # sketch: CMS merge is exact (per-cell sums), whatever the batch split.
    from hive_person_service_spark.sources import load_table
    from hive_person_service_spark.streaming.jobs import stream_cms_maintenance

    path = str(tmp_path / "cms_sketch")
    stream_cms_maintenance(spark, SF_SMALL, path)

    streamed = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in spark.read.parquet(path).collect()
    }
    batch = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(
            load_table(spark, SF_SMALL, "events").select("event_type"),
            "event_type",
        ).collect()
    }
    assert streamed == batch


def test_minhash_inrow_equals_grouped(spark):
    # Zero-shuffle in-row signatures must be bit-identical to the
    # explode+groupBy signatures (same constants, same arithmetic).
    from hive_person_service_spark.operators.dedup import (
        doc_shingles,
        minhash_signatures,
        minhash_signatures_inrow,
    )
    from hive_person_service_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    grouped = minhash_signatures(doc_shingles(docs)).orderBy("doc_id").collect()
    inrow = minhash_signatures_inrow(docs).orderBy("doc_id").collect()
    assert grouped == inrow


def test_minhash_md5_inrow_equals_python_reference(spark):
    # The reproducible in-row signatures (md5 base hash, vectorized numpy
    # fold) must equal a plain-Python replay: h = first 32 md5 bits mod
    # 2^31-1, sig_j = min over shingles of (a_j*h + b_j) mod 2^31-1.
    from hashlib import md5

    from hive_person_service_spark.operators.dedup import (
        _perm_constants,
        doc_shingles,
        minhash_signatures_inrow,
    )
    from hive_person_service_spark.sources import load_table

    m = (1 << 31) - 1
    consts = _perm_constants(32)
    docs = load_table(spark, SF_SMALL, "documents")
    hashes: dict[int, set[int]] = {}
    for r in doc_shingles(docs).collect():
        h = int(md5(r.shingle.encode()).hexdigest()[:8], 16) % m
        hashes.setdefault(r.doc_id, set()).add(h)
    expected = {
        i: tuple(min((a * h + b) % m for h in hs) for a, b in consts)
        for i, hs in hashes.items()
    }
    got = {
        r[0]: tuple(r[1:])
        for r in minhash_signatures_inrow(docs, reproducible=True).collect()
    }
    assert got == expected and got


def test_prefix_join_equals_full_join_and_prunes(spark):
    # Prefix filtering is exact (the prefix lemma guarantees recall) and
    # must generate strictly fewer candidates than the full inverted index.
    from pyspark.sql import functions as F

    from hive_person_service_spark.operators.dedup import (
        doc_shingles,
        jaccard_prefix_candidates,
    )
    from hive_person_service_spark.plans.pipeline4 import dedup_jaccard_prefix
    from hive_person_service_spark.plans.text_pipeline import dedup_ngram_jaccard

    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_ngram_jaccard(spark, SF_SMALL).collect()
    }
    prefix = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup_jaccard_prefix(spark, SF_SMALL).collect()
    }
    assert prefix == full and full

    from hive_person_service_spark.sources import load_table

    shingled = doc_shingles(load_table(spark, SF_SMALL, "documents"), n=3)
    n_prefix = jaccard_prefix_candidates(shingled, threshold=0.5).count()
    n_full = (
        shingled.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(
            shingled.select(F.col("doc_id").alias("id_b"), "shingle"),
            "shingle",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n_prefix < n_full / 2, (n_prefix, n_full)


def test_minhash_fold_slab_chunking_bit_identical(spark, monkeypatch):
    # r12 (advisor item): the vectorized fold bounds its numpy
    # temporaries by slabbing the (hashes x num_perm) product matrix.
    # Shrink the slab far below one fixture batch so BOTH chunked paths
    # run (multi-row slabs AND the single-giant-row running-min), and pin
    # bit-equality against the unchunked fold's output.
    from hive_person_service_spark.operators import dedup as D
    from hive_person_service_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")

    def sigs():
        return D.minhash_signatures_inrow(docs, reproducible=True).orderBy("doc_id").collect()

    baseline = sigs()
    monkeypatch.setattr(D, "_FOLD_SLAB", 64)  # < one doc's shingle count
    chunked = sigs()
    assert chunked == baseline
