"""Behavioral tests for the LLM-pipeline operators: planted duplicates
must be found, signatures must behave like the algorithms they claim,
the multimodal stub must be explicit."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hfcommunity_spark.operators import placement
from hfcommunity_spark.operators.dedup import (
    NGRAM,
    doc_shingles,
    minhash_signatures,
)
from hfcommunity_spark.operators.multimodal import (
    byte_features_batches,
    decode_media,
)
from hfcommunity_spark.operators.similarity import (
    MULTIPROBE_HAMMING,
    _probe_buckets,
    cosine,
    lsh_bucket_udf,
)


BASE = "the quick brown fox jumps over the lazy dog and runs far away today"


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_minhash_finds_planted_near_dup(spark):
    near = BASE.replace("today", "tonight")  # one-token edit
    other = "completely different words about spark shuffles and parquet files here"
    docs = _docs(
        spark,
        [
            {"doc_id": 1, "text": BASE},
            {"doc_id": 2, "text": near},
            {"doc_id": 3, "text": other},
        ],
    )
    sigs = minhash_signatures(docs).collect()
    by_id = {r.doc_id: r.sig for r in sigs}
    shared_near = sum(a == b for a, b in zip(by_id[1], by_id[2]))
    shared_far = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert shared_near > shared_far  # signature similarity tracks Jaccard
    assert shared_far == 0  # disjoint shingle sets


def test_exact_duplicate_same_signature(spark):
    docs = _docs(
        spark, [{"doc_id": 1, "text": BASE}, {"doc_id": 2, "text": BASE}]
    )
    sh = doc_shingles(docs).groupBy("doc_id").count().collect()
    assert len({r["count"] for r in sh}) == 1


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0], [1.0, 0.0, 2.0]), (2, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        ["id", "a", "b"],
    )
    got = {r.id: r.c for r in df.select("id", cosine("a", "b").alias("c")).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)


def test_lsh_bucket_deterministic_and_locality(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0] * 64),
            (2, [1.0] * 63 + [1.001]),  # near-identical → same bucket
            (3, [-1.0] * 64),           # antipodal → complementary bucket
        ],
        ["id", "e"],
    )
    got = {r.id: r.b for r in df.select("id", lsh_bucket_udf("e").alias("b")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    # rerun → identical buckets (fixed-seed planes, same GEMM everywhere)
    again = {r.id: r.b for r in df.select("id", lsh_bucket_udf("e").alias("b")).collect()}
    assert got == again


def test_probe_bucket_enumeration_driver_side():
    """Multi-probe = driver-enumerated hamming ball, NOT a corpus scan:
    C(16,0..4) = 2,517 distinct buckets, all within distance 4."""
    probes = _probe_buckets(0b1010101010101010)
    assert len(probes) == 2517
    assert len(set(probes)) == 2517
    center = 0b1010101010101010
    assert all(bin(p ^ center).count("1") <= MULTIPROBE_HAMMING for p in probes)


def test_nn_chunked_broadcast_matches_single_chunk(spark, monkeypatch):
    """The exact-NN baseline must give identical answers whether the
    candidate matrix fits in one driver chunk or is processed as many
    bounded chunks — the blocked-broadcast design that replaces the
    round-1 full-table collect()."""
    from hfcommunity_spark.operators import similarity as sim

    one = {
        (r.vec_id, r.nn_id)
        for r in sim.dd_embedding_nearest_neighbor(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    monkeypatch.setattr(sim, "NN_CHUNK_ROWS", 64)  # 500 rows → 8 chunks
    many = {
        (r.vec_id, r.nn_id)
        for r in sim.dd_embedding_nearest_neighbor(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert one == many
    assert len(one) == 500


def test_clean_text_exact_seam(spark):
    """F3 exact path: without the clean-text lib the exact UDF must
    refuse loudly and clean_text_best must fall back to the regex
    approximation; with the lib, best == lib output (pinned below)."""
    from hfcommunity_spark.operators import textops as t

    df = spark.createDataFrame(
        [(1, "  Héllo  WORLD 🙂  x  ")], ["id", "text"]
    )
    got = df.select(t.clean_text_best("text").alias("c")).collect()[0].c
    if t._cleantext_clean is None:
        with pytest.raises(ImportError, match="clean-text"):
            t.clean_text_exact_udf()
        # regex approximation: ascii-printable only, collapsed, trimmed
        assert got == "hllo world x"
    else:  # pragma: no cover - lib not in this container
        assert got == t._cleantext_clean("  Héllo  WORLD 🙂  x  ",
                                         no_emoji=True)


def test_chunk_documents_empty_text_emits_no_chunks(spark, tmp_path):
    """Empty documents produce zero chunks — without the guard,
    sequence(0, ceil(0/128)-1) = [0, -1] and posexplode fabricates two
    bogus empty chunks the DuckDB oracle never emits."""
    from hfcommunity_spark.operators.textops import t_chunk_documents

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["", "ab"]})
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "documents.parquet"))
    out = t_chunk_documents(spark, str(tmp_path)).collect()
    assert {(r.doc_id, r.chunk_idx, r.chunk) for r in out} == {(2, 0, "ab")}


def test_byte_features_deterministic():
    pdf = pd.DataFrame(
        {"media_id": [1, 2], "payload": [b"abcabc", None]}
    )
    out = pd.concat(list(byte_features_batches(iter([pdf]))))
    r1 = out[out.media_id == 1].iloc[0]
    assert r1.n_bytes == 6
    assert r1.distinct_bytes == 3
    assert r1.head_hex == b"abcabc".hex()
    r2 = out[out.media_id == 2].iloc[0]
    assert r2.n_bytes == 0 and pd.isna(r2.byte_mean)


def test_byte_features_vectorized_matches_per_row_reference():
    """r15 (guide §4.2): the vectorized extractor (reduceat sums,
    coded-unique distinct counts) must be value-identical to the
    per-row reference loop it replaced — including the edge shapes:
    None payload (all-null features), empty payload (mean null,
    distinct 0, head_hex ''), single byte, all-duplicate bytes, and
    byte values that exercise the (row << 8 | byte) code packing.
    byte_mean exactness holds because per-row byte sums are exact
    integers far below 2**53, so sum/len is order-independent."""
    import numpy as np

    rng = np.random.default_rng(7)
    payloads = [
        None, b"", b"\x00", b"\xff" * 1000, b"abcabc",
        bytes(rng.integers(0, 256, 4096, dtype=np.uint8)),
        bytes(range(256)) * 3, b"\x01",
    ]
    pdf = pd.DataFrame({
        "media_id": list(range(len(payloads))), "payload": payloads,
    })

    def reference(pdf):
        rows = []
        for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
            if payload is None:
                rows.append((media_id, 0, None, None, None))
                continue
            arr = np.frombuffer(payload, dtype=np.uint8)
            rows.append((
                media_id, int(arr.size),
                float(arr.mean()) if arr.size else None,
                int(np.unique(arr).size), bytes(payload[:8]).hex(),
            ))
        return pd.DataFrame(rows, columns=[
            "media_id", "n_bytes", "byte_mean", "distinct_bytes",
            "head_hex",
        ])

    got = pd.concat(list(byte_features_batches(iter([pdf]))))
    want = reference(pdf)
    assert list(got.media_id) == list(want.media_id)
    assert list(got.n_bytes) == list(want.n_bytes)
    for g, w in zip(got.byte_mean, want.byte_mean):
        assert (pd.isna(g) and pd.isna(w)) or g == w, (g, w)
    for g, w in zip(got.distinct_bytes, want.distinct_bytes):
        assert (pd.isna(g) and pd.isna(w)) or g == w, (g, w)
    for g, w in zip(got.head_hex, want.head_hex):
        assert g == w, (g, w)
    # empty input batch yields an empty, well-formed frame
    empty = pd.DataFrame({"media_id": [], "payload": []})
    out = pd.concat(list(byte_features_batches(iter([empty]))))
    assert len(out) == 0 and list(out.columns) == list(want.columns)


def test_x20_arrow_batch_size_stays_default():
    """VERDICT r14 ask #6, measured r15: the x20/multimodal extract is
    INSENSITIVE to spark.sql.execution.arrow.maxRecordsPerBatch at
    this payload shape (sf0.1 5k rows/297B mean: 0.385/0.309/0.309/
    0.313 s at 512/2k/10k/50k; sf1.0 50k rows/443B: 2.01/1.83/1.77/
    1.77 s) — batches are small in bytes (10k x 443B ≈ 4.4 MB) so the
    default 10k is already past the vectorization knee and far from
    memory-bound.  The CHOSEN value is therefore the session default;
    this test locks that the multimodal path does not silently pin an
    override (real MB-scale media would want maxBytesPerBatch instead
    — see the module docstring)."""
    import inspect

    from hfcommunity_spark.operators import multimodal as mm

    src = inspect.getsource(mm)
    assert "maxRecordsPerBatch\", " not in src.replace("'", '"'), (
        "multimodal pins an Arrow batch size; the r15 sweep chose the "
        "default — re-measure before overriding"
    )


def test_decode_media_is_an_explicit_stub():
    with pytest.raises(NotImplementedError, match="stubbed"):
        decode_media(b"\xff\xd8\xff", "image/jpeg")


def test_cap_bucket_size_drops_hot_buckets(spark):
    from hfcommunity_spark.operators.dedup import cap_bucket_size

    df = spark.createDataFrame(
        [("hot", i) for i in range(10)] + [("cold", 1), ("cold", 2)],
        ["bucket", "doc_id"],
    )
    out = cap_bucket_size(df, ["bucket"], max_size=5).collect()
    assert {r.bucket for r in out} == {"cold"}
    assert len(out) == 2


def test_conflicting_files_scalable_ids(spark):
    from hfcommunity_spark.etl.normalize import conflicting_files_rows

    disc = spark.createDataFrame(
        [(1, "models/a/m", ["b.py", "a.py"]), (2, "models/a/m", ["a.py"])],
        ["num", "repo_id", "conflicting_files"],
    )
    out = conflicting_files_rows(disc, dense_ids=False).collect()
    ids = [r.id for r in out]
    assert len(ids) == len(set(ids)) == 3  # unique, not necessarily dense
    again = conflicting_files_rows(disc, dense_ids=False).collect()
    assert sorted(ids) == sorted(r.id for r in again)  # deterministic


def test_pack_token_budget_invariants(spark):
    """Packing is a partition of the concatenated token stream: bins
    tile [0, total); each doc's span is exactly its token count; block
    boundaries are invisible (distributed scan == naive scan)."""
    from hfcommunity_spark.operators.sampling import (
        PACK_BUDGET, samp_pack_token_budget,
    )

    out = (
        samp_pack_token_budget(spark, "/root/testdata/sf0.001")
        .orderBy("doc_id")
        .collect()
    )
    cum = 0
    for r in out:
        assert 0 <= r.bin_offset < PACK_BUDGET
        start = r.bin_start * PACK_BUDGET + r.bin_offset
        assert start == cum  # head-to-tail, no gaps or overlaps
        cum += r.n_tokens
        assert r.bin_end == (cum - 1) // PACK_BUDGET >= r.bin_start


def test_repetition_filter_bounds(spark):
    from hfcommunity_spark.operators.textops import t_repetition_filter

    rows = t_repetition_filter(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 < r.top_bigram_frac <= 1
        assert 0 <= r.dup_bigram_frac <= 1
        # the max bigram is itself duplicated whenever dup_frac > 0
        assert r.top_bigram_frac <= r.dup_bigram_frac or r.dup_bigram_frac == 0


def test_pii_scrub_masks_everything(spark):
    from hfcommunity_spark.operators.textops import t_pii_scrub_stats

    rows = t_pii_scrub_stats(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.n_emails == 1 and r.n_ips == 1 for r in rows)


def test_mixture_weights_sum_to_corpus(spark):
    from hfcommunity_spark.operators.sampling import samp_mixture_weights

    rows = samp_mixture_weights(spark, "/root/testdata/sf0.001").collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r.temp_weight**2 == __import__("pytest").approx(r.token_share)


def test_rarity_hapax_consistency(spark):
    """A doc containing a hapax has rarest_freq == 1, and vice versa."""
    from hfcommunity_spark.operators.textops import t_rarity_score

    rows = t_rarity_score(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert (r.n_hapax > 0) == (r.rarest_freq == 1)
        assert r.mean_word_freq >= r.rarest_freq >= 1


def test_jaccard_pair_delta_equals_rebuild(spark):
    """Incremental pair-index maintenance: base + two sequential
    deliveries through jaccard_pair_delta must equal the from-scratch
    pair build on the union — pairwise jaccard depends only on the two
    docs' own shingle sets, so the delta is exactly the pairs touching
    each delivery."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    d1 = docs.filter(F.col("doc_id") % 3 == 1)
    d2 = docs.filter(F.col("doc_id") % 3 == 2)

    def pairs_of(population):
        sh = dd.doc_shingle_hashes(population)
        counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a, b = sh.alias("a"), sh.alias("b")
        p = (
            a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        ca, cb = counts.alias("ca"), counts.alias("cb")
        return p.join(ca, F.col("doc_a") == F.col("ca.doc_id")).join(
            cb, F.col("doc_b") == F.col("cb.doc_id")
        ).select(
            "doc_a", "doc_b", "shared",
            (F.col("shared").cast("double")
             / (F.col("ca.n") + F.col("cb.n") - F.col("shared"))
             ).alias("jaccard"),
        )

    postings = dd.doc_shingle_hashes(base)
    pairs = pairs_of(base)
    for delivery in (d1, d2):
        postings, pairs = dd.jaccard_pair_delta(postings, pairs, delivery)

    def norm(df):
        return {
            (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
            for r in df.collect()
        }

    got, want = norm(pairs), norm(pairs_of(docs))
    assert got == want and len(got) > 0
    # cross-delivery pairs must exist (a pair with one side in d1 and
    # the other in d2 — only discoverable by the SECOND delta)
    d1_ids = {r.doc_id for r in d1.select("doc_id").collect()}
    d2_ids = {r.doc_id for r in d2.select("doc_id").collect()}
    assert any(
        (a in d1_ids and b in d2_ids) or (a in d2_ids and b in d1_ids)
        for a, b, *_ in got
    )


def test_minhash_band_delta_equals_rebuild(spark):
    """Incremental band/pair-index maintenance: base + two sequential
    deliveries through minhash_band_delta must equal the from-scratch
    minhash_lsh_pairs_from_bands on the uncapped union — a doc's bands
    depend only on its own shingles, so old-old pairs can never newly
    appear and each delta is exactly the pairs touching the batch."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    d1 = docs.filter(F.col("doc_id") % 3 == 1)
    d2 = docs.filter(F.col("doc_id") % 3 == 2)

    def bands_of(population):
        return dd._minhash_bands(
            dd.minhash_signatures(population), "xxhash64"
        )

    bands = bands_of(base)
    pairs = dd.minhash_lsh_pairs_from_bands(bands)
    for delivery in (d1, d2):
        bands, pairs = dd.minhash_band_delta(bands, pairs, delivery)

    def norm(df):
        return {
            (r.doc_a, r.doc_b, round(r.est_similarity, 9))
            for r in df.collect()
        }

    got = norm(pairs)
    want = norm(dd.minhash_lsh_pairs_from_bands(bands_of(docs)))
    assert got == want and len(got) > 0
    # the maintained band index itself must equal the rebuilt one
    assert bands.count() == bands_of(docs).count()


def test_incremental_dedup_pipeline_equals_rebuild(spark):
    """The full maintained dedup pipeline under deliveries: MinHash
    band/pair deltas feed components_delta, and after two deliveries
    the maintained CLUSTER assignment equals the from-scratch build
    (bands -> thresholded pairs -> CC) on the union — the end-to-end
    composition a 100 TB deployment runs per crawl drop, with no step
    ever re-reading history."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd
    from hfcommunity_spark.operators.graph import (
        components_delta,
        connected_components,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    # replicate a slice of the corpus under offset ids so real
    # cross-delivery near-dup pairs exist (replicas land in d1/d2)
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    world = docs.unionByName(dups)
    base = world.filter(F.col("doc_id") % 3 == 0)
    d1 = world.filter(F.col("doc_id") % 3 == 1)
    d2 = world.filter(F.col("doc_id") % 3 == 2)
    T = 0.5

    def clusters_of(pairs):
        edges = pairs.filter(F.col("est_similarity") >= T).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        return connected_components(edges)

    def bands_of(population):
        return dd._minhash_bands(
            dd.minhash_signatures(population), "xxhash64"
        )

    bands = bands_of(base)
    pairs = dd.minhash_lsh_pairs_from_bands(bands)
    assign = clusters_of(pairs)
    for delivery in (d1, d2):
        bands, merged_pairs = dd.minhash_band_delta(bands, pairs, delivery)
        delta_pairs = merged_pairs.exceptAll(pairs)  # this delivery's new pairs
        assign = components_delta(
            assign,
            delta_pairs.filter(F.col("est_similarity") >= T).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ),
        ).localCheckpoint()
        pairs = merged_pairs.localCheckpoint()

    got = {(r.vertex, r.component) for r in assign.collect()}
    want = {
        (r.vertex, r.component)
        for r in clusters_of(
            dd.minhash_lsh_pairs_from_bands(bands_of(world))
        ).collect()
    }
    assert got == want and len(got) > 0
    # replicas must cluster with their originals (min-id = original)
    originals = {c for _, c in got if c < 1_000_000}
    replicas_clustered = {
        v: c for v, c in got if v >= 1_000_000
    }
    assert replicas_clustered and all(
        c < 1_000_000 for c in replicas_clustered.values()
    )
    assert originals >= set(replicas_clustered.values())


def test_maintained_index_deltas_tolerate_empty_deliveries(spark):
    """An empty crawl drop is a no-op for every maintained index: the
    band/pair delta, and the cluster delta under an empty edge set,
    must return frames equal to their inputs (and not error on the
    empty-side joins/aggregations)."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd
    from hfcommunity_spark.operators.graph import (
        components_delta,
        connected_components,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    empty_docs = docs.filter(F.lit(False))
    bands = dd._minhash_bands(dd.minhash_signatures(docs), "xxhash64")
    pairs = dd.minhash_lsh_pairs_from_bands(bands)
    b2, p2 = dd.minhash_band_delta(bands, pairs, empty_docs)
    assert b2.count() == bands.count()
    assert p2.count() == pairs.count()

    edges = pairs.filter(F.col("est_similarity") >= 0.5).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    assign = connected_components(edges)
    empty_edges = edges.filter(F.lit(False))
    a2 = components_delta(assign, empty_edges)
    got = {(r.vertex, r.component) for r in a2.collect()}
    want = {(r.vertex, r.component) for r in assign.collect()}
    assert got == want

    # an edge delivery that merges nothing (both endpoints already in
    # one component) is also a no-op
    one = pairs.filter(F.col("est_similarity") >= 0.5).limit(1)
    same_comp_edges = one.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    a3 = components_delta(a2, same_comp_edges)
    assert {(r.vertex, r.component) for r in a3.collect()} == want


def test_bigint_in_expr_matches_isin(spark):
    """The SQL-string IN builder (r14: F.col().isin(list) marshals
    every literal through py4j one at a time — 6.6 s to build the
    10.9k-hash probe filter vs 0.8 s parsed): value parity with isin
    on positives/negatives/Long.MIN/Long.MAX, false on empty, and the
    filter still reaches the scan as a pushed In predicate."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    lo, hi = -(1 << 63), (1 << 63) - 1
    vals = [0, 7, -7, lo, hi]
    df = spark.createDataFrame(
        [(v,) for v in [0, 1, 7, -7, lo, lo + 1, hi, hi - 1]], "h bigint"
    )
    got = {r.h for r in df.filter(dd._bigint_in_expr("h", vals)).collect()}
    want = {r.h for r in df.filter(F.col("h").isin(vals)).collect()}
    assert got == want == {0, 7, -7, lo, hi}
    assert df.filter(dd._bigint_in_expr("h", [])).count() == 0
    plan = (
        df.filter(dd._bigint_in_expr("h", [1, 2, 3]))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "IN" in plan.upper()


def test_span_fold_in_place_tolerates_empty_delivery(spark, tmp_path):
    """An empty drop through the fold entry, under both placements:
    both layouts keep every data file unchanged and no in-flight
    marker is left behind (the empty hash and bucket lists must not
    break the pruned-scan construction either)."""
    import os
    from contextlib import nullcontext

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    postings = dd.span_postings_frame(docs)

    def files(root):
        return sorted(
            (os.path.relpath(os.path.join(dp, fn), root),
             os.stat(os.path.join(dp, fn)).st_ino)
            for dp, _dns, fns in os.walk(root) for fn in fns
            if fn.endswith(".parquet")
        )

    for tag, placed in (("local", nullcontext),
                        ("dist", placement.distributed)):
        pdir = str(tmp_path / tag / "postings")
        sdir = str(tmp_path / tag / "stats")
        dd.write_span_postings(postings, pdir)
        dd.write_span_stats(dd.span_stats_from_postings(postings), sdir)
        before = files(pdir), files(sdir)
        with placed():
            dd.span_fold_in_place(spark, pdir, sdir,
                                  docs.filter(F.lit(False)))
        assert (files(pdir), files(sdir)) == before, tag
        assert not os.path.exists(dd._span_fold_marker_path(pdir)), tag


def test_bucketed_span_postings_probe_is_partition_pruned(spark, tmp_path):
    """The deployment seam DELTA_BENCH.json's note promises: span
    postings written partitionBy(h_bucket) let the delta's
    affected-docs probe read only the delivery's buckets.  Asserts
    BOTH the semantics (pruned result == full-scan result) and the
    physics (the bucket IN-list reaches the scan as a
    PartitionFilter; the scan reads fewer partitions than exist)."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") >= 3)
    # replicate a corpus doc into the delivery so at least one span
    # overlap exists (synthetic 5-grams rarely collide by chance)
    delivery = docs.filter(F.col("doc_id") < 3).unionByName(
        corpus.orderBy("doc_id").limit(1).select(
            (F.col("doc_id") + 900_000).alias("doc_id"), "text"
        )
    )
    postings = dd.span_postings_frame(corpus)
    out = str(tmp_path / "postings_bucketed")
    dd.write_span_postings(postings, out)

    batch_postings = dd.span_postings_frame(delivery)
    got = dd.affected_docs_pruned(spark, out, batch_postings)
    want = (
        postings.join(
            batch_postings.select("h").distinct(), "h", "left_semi"
        ).select("doc_id").distinct()
    )
    g = {r.doc_id for r in got.collect()}
    w = {r.doc_id for r in want.collect()}
    assert g == w and len(g) > 0

    import os
    import re

    # physics: the bucket IN-list must reach the scan AS a partition
    # filter — a bare "PartitionFilters" substring appears even for an
    # unpruned scan (printed as "PartitionFilters: []"), so match a
    # NON-EMPTY filter list naming h_bucket (review finding)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*h_bucket", plan), plan
    # and pruning must actually drop partitions: the delivery's hashes
    # hit a strict subset of the written buckets, and the pruned read
    # sees only those
    hit = {
        r.b for r in batch_postings.select(
            F.pmod(F.col("h"), F.lit(dd.SPAN_H_BUCKETS)).cast("int")
            .alias("b")
        ).distinct().collect()
    }
    n_parts = len([p for p in os.listdir(out)
                   if p.startswith("h_bucket=")])
    assert len(hit) < n_parts, (len(hit), n_parts)
    read_buckets = {
        r.h_bucket
        for r in spark.read.parquet(out)
        .filter(F.col("h_bucket").isin(sorted(hit)))
        .select("h_bucket").distinct().collect()
    }
    assert read_buckets <= hit


def test_span_postings_layout_file_count_bounded(spark, tmp_path):
    """Physics lock for the round-8 layout fix: write_span_postings
    must emit file count tracking BUCKETS, not the writer's task
    parallelism.  A W-partition writer x B buckets used to fan out to
    W*B shard files (2048 at the rehearsal's sf1.0), and the delta
    probe's cost became footer/open overhead growing with W — the
    very corpus-tracking growth the bucketed layout exists to kill."""
    import glob

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    postings = dd.span_postings_frame(docs).repartition(16)  # wide writer
    out = str(tmp_path / "layout")
    dd.write_span_postings(postings, out)
    files = glob.glob(f"{out}/h_bucket=*/*.parquet")
    dirs = glob.glob(f"{out}/h_bucket=*")
    assert len(dirs) > 0
    # one data file per bucket directory, regardless of writer width
    assert len(files) <= dd.SPAN_H_BUCKETS, (len(files), len(dirs))
    per_dir = {}
    for f in files:
        d = f.rsplit("/", 2)[-2]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) == 1, per_dir


def test_span_delta_bucketed_probe_pushes_inset_predicate(spark, tmp_path):
    """The bucketed probe's second pruning stage: the delivery-bounded
    hash set must reach the scan as a data filter (InSet on h) next to
    the bucket PartitionFilter — not as a join above it.  Guards the
    round-8 probe shape against a silent regression to a corpus-wide
    exchange."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delivery = docs.filter(F.col("doc_id") % 5 == 0).limit(5)
    out = str(tmp_path / "probe_layout")
    dd.write_span_postings(dd.span_postings_frame(corpus), out)
    batch_postings = dd.span_postings_frame(delivery).localCheckpoint()
    probe = dd._bucketed_span_probe(
        spark, out, batch_postings, dd.SPAN_H_BUCKETS
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    # non-empty partition filter naming h_bucket AND a pushed h
    # predicate in the data filters (InSet renders as "h#... IN" /
    # "in(h#...")
    assert re.search(r"PartitionFilters: \[[^\]]*h_bucket", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(h", plan), plan
    # the over-cap semi-join branch (forced by pinning the cap) must
    # return the same probe rows and negative hashes must land in the
    # same buckets driver-side (Python %) as JVM-side (pmod)
    want = sorted(tuple(r) for r in probe.collect())
    old = dd._SPAN_PROBE_INSET_MAX
    dd._SPAN_PROBE_INSET_MAX = 0
    try:
        via_join = dd._bucketed_span_probe(
            spark, out, batch_postings, dd.SPAN_H_BUCKETS
        )
        assert sorted(tuple(r) for r in via_join.collect()) == want
    finally:
        dd._SPAN_PROBE_INSET_MAX = old
    assert any(
        r.h < 0 for r in batch_postings.select("h").collect()
    ), "fixture delivery carries no negative hash; bucket-parity untested"


def test_span_postings_append_lifecycle(spark, tmp_path):
    """Appending a delivery's postings into the bucketed table must be
    probe-equivalent to a fresh full write (affected_docs_pruned sees
    the appended rows), add at most one file per touched bucket, and
    leave untouched buckets' files alone."""
    import glob
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators import dedup as dd

    docs = read_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delivery = docs.filter(F.col("doc_id") % 5 == 0)

    out = str(tmp_path / "postings")
    dd.write_span_postings(dd.span_postings_frame(corpus), out)
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(out, "h_bucket=*/*.parquet"))
    }
    batch = dd.span_postings_frame(delivery).localCheckpoint()
    touched = {
        r.b
        for r in batch.select(
            F.pmod(F.col("h"), F.lit(dd.SPAN_H_BUCKETS)).cast("int")
            .alias("b")
        ).distinct().collect()
    }
    dd.append_span_postings(batch, out)

    # probe equivalence vs a fresh full write
    full = str(tmp_path / "postings_full")
    dd.write_span_postings(dd.span_postings_frame(docs), full)
    probe = dd.span_postings_frame(
        docs.filter(F.col("doc_id") % 7 == 0)
    ).localCheckpoint()
    got = {
        r.doc_id
        for r in dd.affected_docs_pruned(spark, out, probe).collect()
    }
    want = {
        r.doc_id
        for r in dd.affected_docs_pruned(spark, full, probe).collect()
    }
    assert got == want and len(want) > 0

    # file accounting: untouched buckets byte-identical; touched
    # buckets gained at most one file
    for f, m in before.items():
        assert os.path.exists(f) and os.path.getmtime(f) == m, f
    for d in glob.glob(os.path.join(out, "h_bucket=*")):
        b = int(d.split("h_bucket=")[1])
        files = [x for x in os.listdir(d) if x.endswith(".parquet")]
        assert len(files) <= (2 if b in touched else 1), (d, files)


def test_span_fold_in_place_local_equals_distributed_equals_rebuild(
        spark, tmp_path, monkeypatch):
    """The round-12 persisted span fold (VERDICT r11 #5): folding two
    sequential deliveries into the bucketed postings+stats layouts via
    span_fold_in_place must leave IDENTICAL layout contents whether
    the driver-local pyarrow path runs (default) or the cap forces the
    distributed writers (SPAN_LOCAL_ROW_MAX pinned to 0), and both
    must equal the from-scratch stats/postings over each prefix
    corpus — including old docs whose n_dup_spans flips only because a
    delivery re-used their spans."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    deliveries = [
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]

    def fold_all(tag: str, cap: int | None) -> list[dict]:
        pdir = str(tmp_path / tag / "postings")
        sdir = str(tmp_path / tag / "stats")
        dd.write_span_postings(dd.span_postings_frame(base), pdir)
        dd.write_span_stats(
            dd.span_stats_from_postings(dd.span_postings_frame(base)),
            sdir,
        )
        snaps = []
        with monkeypatch.context() as mp:
            if cap is not None:
                mp.setitem(placement.CAPS, "SPAN_LOCAL_ROW_MAX", cap)
            for delivery in deliveries:
                dd.span_fold_in_place(spark, pdir, sdir, delivery)
                snaps.append({
                    "stats": {
                        tuple(r) for r in spark.read.parquet(sdir)
                        .select("doc_id", "n_spans", "n_dup_spans")
                        .collect()
                    },
                    "postings": {
                        tuple(r) for r in spark.read.parquet(pdir)
                        .select("doc_id", "h", "c").collect()
                    },
                })
        # layout hygiene: every file still lives under a bucket dir
        assert all(
            d.startswith("d_bucket=") for d in os.listdir(sdir)
            if not d.startswith(("_", "."))
        )
        return snaps

    local = fold_all("local", None)
    dist = fold_all("dist", 0)
    assert local == dist
    # prefix-rebuild oracle for both folds
    corpus = base
    for k, delivery in enumerate(deliveries):
        corpus = corpus.unionByName(delivery)
        want_stats = {
            tuple(r) for r in dd.span_stats_frame(corpus).collect()
        }
        want_post = {
            tuple(r) for r in dd.span_postings_frame(corpus).collect()
        }
        assert local[k]["stats"] == want_stats, f"delivery {k}"
        assert local[k]["postings"] == want_post, f"delivery {k}"
    # the deliveries actually flipped an old doc (cross-slice dups)
    base_stats = {
        r.doc_id: r.n_dup_spans
        for r in dd.span_stats_frame(base).collect()
    }
    assert any(
        ns != base_stats[d]
        for d, _, ns in local[-1]["stats"] if d in base_stats
    )


def test_x17_local_serve_matches_snapshot_serve(spark, monkeypatch):
    """Round-13 serve surgery on x17: the driver-local pyarrow serve
    read of the stats layout must be value-identical (dup_ratio's
    IEEE double division included) to the hardlink-snapshot +
    distributed-read path it replaces — forced by pinning the local
    serve's row cap to 0."""
    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    local = sorted(
        tuple(r) for r in
        dd.x17_stream_maintained_spans(spark, sf).collect()
    )
    assert local, "x17 served no rows"
    monkeypatch.setitem(placement.CAPS, "SERVE_LOCAL_ROW_MAX", 0)
    snap = sorted(
        tuple(r) for r in
        dd.x17_stream_maintained_spans(spark, sf).collect()
    )
    assert local == snap


def test_span_fold_crash_journal_and_recovery(spark, tmp_path,
                                              monkeypatch):
    """The cross-layout crash window (ADVICE r12): kill the local fold
    AFTER the stats upsert but BEFORE the postings append.  The
    in-flight marker must survive, every subsequent fold attempt must
    RAISE (double-folding would double-count old docs' n_dup_spans),
    recover_span_fold must restore the exact pre-fold layouts, and
    re-folding the recovered delivery must equal a never-crashed
    fold."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import bucketed
    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delivery = docs.filter(F.col("doc_id") % 3 == 1)

    def read_layouts(pdir, sdir):
        spark.catalog.refreshByPath(pdir)
        spark.catalog.refreshByPath(sdir)
        return (
            {tuple(r) for r in spark.read.parquet(pdir)
             .select("doc_id", "h", "c").collect()},
            {tuple(r) for r in spark.read.parquet(sdir)
             .select("doc_id", "n_spans", "n_dup_spans").collect()},
        )

    def build(tag):
        pdir = str(tmp_path / tag / "postings")
        sdir = str(tmp_path / tag / "stats")
        dd.write_span_postings(dd.span_postings_frame(base), pdir)
        dd.write_span_stats(
            dd.span_stats_from_postings(dd.span_postings_frame(base)),
            sdir,
        )
        return pdir, sdir

    # reference: the never-crashed fold
    p_ok, s_ok = build("ok")
    dd.span_fold_in_place(spark, p_ok, s_ok, delivery)
    want = read_layouts(p_ok, s_ok)

    # crash: stats landed, postings append did not
    p_cr, s_cr = build("crash")
    pristine = read_layouts(p_cr, s_cr)
    real_write = bucketed.write_buckets

    def dying_write(dir_, pcol, by_bucket, fields, append=False):
        if append:
            raise OSError("simulated crash before the postings append")
        return real_write(dir_, pcol, by_bucket, fields, append)

    monkeypatch.setattr(bucketed, "write_buckets", dying_write)
    try:
        dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
        raise AssertionError("simulated crash did not propagate")
    except OSError:
        pass
    monkeypatch.setattr(bucketed, "write_buckets", real_write)

    marker = dd._span_fold_marker_path(p_cr)
    assert os.path.isfile(marker)
    # the layouts are now INCONSISTENT (stats folded, postings not) —
    # every fold entry refuses, both paths
    try:
        dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
        raise AssertionError("fold over an in-flight marker must raise")
    except RuntimeError as exc:
        assert "recover_span_fold" in str(exc)
    # recovery restores the EXACT pre-fold layouts
    assert dd.recover_span_fold(spark, p_cr, s_cr) is True
    assert not os.path.isfile(marker)
    assert read_layouts(p_cr, s_cr) == pristine
    # recovery is idempotent (no marker -> no-op)
    assert dd.recover_span_fold(spark, p_cr, s_cr) is False
    # and the recovered delivery re-folds to the never-crashed state
    dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
    assert read_layouts(p_cr, s_cr) == want

    # the STRONGEST crash point: both layouts written, crash before
    # the marker removal (the double-count window — re-folding the
    # delivery on top would double old docs' n_dup_spans).  Recovery
    # must UNDO the completed postings append via the snapshot and
    # re-folding must still land on the never-crashed state.
    p_c2, s_c2 = build("crash2")
    pristine2 = read_layouts(p_c2, s_c2)
    real_unlink = os.unlink

    def dying_unlink(path, *args, **kwargs):
        # match os.unlink's real signature (path, *, dir_fd=None):
        # shutil.rmtree calls it with dir_fd, and the r15 fold cleans
        # its stats snapshot via rmtree inside the patched window
        if isinstance(path, str) and path.endswith("_fold_inflight.json"):
            raise OSError("simulated crash before marker removal")
        return real_unlink(path, *args, **kwargs)

    monkeypatch.setattr("os.unlink", dying_unlink)
    try:
        dd.span_fold_in_place(spark, p_c2, s_c2, delivery)
        raise AssertionError("simulated crash did not propagate")
    except OSError:
        pass
    finally:
        monkeypatch.setattr("os.unlink", real_unlink)
    assert os.path.isfile(dd._span_fold_marker_path(p_c2))
    assert dd.recover_span_fold(spark, p_c2, s_c2) is True
    assert read_layouts(p_c2, s_c2) == pristine2
    dd.span_fold_in_place(spark, p_c2, s_c2, delivery)
    assert read_layouts(p_c2, s_c2) == want


def test_span_fold_distributed_crash_journal_and_recovery(
        spark, tmp_path, monkeypatch):
    """VERDICT r13 ask #3 / ADVICE r13: the DISTRIBUTED span writers'
    crash window gets the same discipline the local path earned in
    r13.  With the local cap pinned to 0 (the 100 TB configuration),
    kill the fold between the stats dynamic-overwrite and the postings
    append, and again between the append and the marker removal.  In
    both windows: the marker survives, the next fold attempt REFUSES
    loudly, recover_span_fold restores the exact pre-fold layouts, and
    re-folding the recovered delivery equals a never-crashed
    distributed fold."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delivery = docs.filter(F.col("doc_id") % 3 == 1)

    def read_layouts(pdir, sdir):
        spark.catalog.refreshByPath(pdir)
        spark.catalog.refreshByPath(sdir)
        return (
            {tuple(r) for r in spark.read.parquet(pdir)
             .select("doc_id", "h", "c").collect()},
            {tuple(r) for r in spark.read.parquet(sdir)
             .select("doc_id", "n_spans", "n_dup_spans").collect()},
        )

    def build(tag):
        pdir = str(tmp_path / tag / "postings")
        sdir = str(tmp_path / tag / "stats")
        dd.write_span_postings(dd.span_postings_frame(base), pdir)
        dd.write_span_stats(
            dd.span_stats_from_postings(dd.span_postings_frame(base)),
            sdir,
        )
        return pdir, sdir

    monkeypatch.setitem(placement.CAPS, "SPAN_LOCAL_ROW_MAX", 0)

    # reference: the never-crashed DISTRIBUTED fold
    p_ok, s_ok = build("ok")
    dd.span_fold_in_place(spark, p_ok, s_ok, delivery)
    want = read_layouts(p_ok, s_ok)

    # window 1: stats overwritten, postings append never ran
    p_cr, s_cr = build("crash")
    pristine = read_layouts(p_cr, s_cr)
    real_append = dd.append_span_postings

    def dying_append(batch, out_dir, buckets=dd.SPAN_H_BUCKETS):
        raise OSError("simulated crash before the postings append")

    monkeypatch.setattr(dd, "append_span_postings", dying_append)
    try:
        dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
        raise AssertionError("simulated crash did not propagate")
    except OSError:
        pass
    monkeypatch.setattr(dd, "append_span_postings", real_append)

    marker = dd._span_fold_marker_path(p_cr)
    assert os.path.isfile(marker), (
        "the distributed writers must journal the cross-layout window"
    )
    try:
        dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
        raise AssertionError("fold over an in-flight marker must raise")
    except RuntimeError as exc:
        assert "recover_span_fold" in str(exc)
    assert dd.recover_span_fold(spark, p_cr, s_cr) is True
    assert not os.path.isfile(marker)
    assert read_layouts(p_cr, s_cr) == pristine
    dd.span_fold_in_place(spark, p_cr, s_cr, delivery)
    assert read_layouts(p_cr, s_cr) == want

    # window 2 (the double-count window): BOTH distributed writes
    # landed, crash before marker removal — recovery must UNDO the
    # committed postings append via the snapshot
    p_c2, s_c2 = build("crash2")
    pristine2 = read_layouts(p_c2, s_c2)
    real_unlink = os.unlink

    def dying_unlink(path, *args, **kwargs):
        # match os.unlink's real signature (path, *, dir_fd=None):
        # shutil.rmtree calls it with dir_fd, and the r15 fold cleans
        # its stats snapshot via rmtree inside the patched window
        if isinstance(path, str) and path.endswith("_fold_inflight.json"):
            raise OSError("simulated crash before marker removal")
        return real_unlink(path, *args, **kwargs)

    monkeypatch.setattr("os.unlink", dying_unlink)
    try:
        dd.span_fold_in_place(spark, p_c2, s_c2, delivery)
        raise AssertionError("simulated crash did not propagate")
    except OSError:
        pass
    finally:
        monkeypatch.setattr("os.unlink", real_unlink)
    assert os.path.isfile(dd._span_fold_marker_path(p_c2))
    assert dd.recover_span_fold(spark, p_c2, s_c2) is True
    assert read_layouts(p_c2, s_c2) == pristine2
    dd.span_fold_in_place(spark, p_c2, s_c2, delivery)
    assert read_layouts(p_c2, s_c2) == want


def test_recover_span_fold_tolerates_truncated_marker(
        spark, tmp_path):
    """ADVICE r13: an unparseable marker must not wedge the recovery
    path itself.  The r14 marker is published by atomic rename, so a
    truncated one can only be pre-r14 debris or filesystem damage —
    either way recover_span_fold treats it as 'nothing mutated':
    postings stand, stats rebuild from them, marker removed, folding
    unblocked."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delivery = docs.filter(F.col("doc_id") % 3 == 1)
    pdir = str(tmp_path / "postings")
    sdir = str(tmp_path / "stats")
    dd.write_span_postings(dd.span_postings_frame(base), pdir)
    dd.write_span_stats(
        dd.span_stats_from_postings(dd.span_postings_frame(base)), sdir
    )
    pristine_stats = {
        tuple(r) for r in spark.read.parquet(sdir)
        .select("doc_id", "n_spans", "n_dup_spans").collect()
    }
    marker = dd._span_fold_marker_path(pdir)
    with open(marker, "w") as fh:
        fh.write('{"postings_snap')  # a mid-write crash's residue
    # folding still refuses (marker present at all = refuse)
    try:
        dd.span_fold_in_place(spark, pdir, sdir, delivery)
        raise AssertionError("fold over a truncated marker must raise")
    except RuntimeError as exc:
        assert "recover_span_fold" in str(exc)
    # recovery neither crashes (the pre-r14 wedge) nor mutates
    # postings; stats rebuild to the same derived values
    assert dd.recover_span_fold(spark, pdir, sdir) is True
    assert not os.path.isfile(marker)
    spark.catalog.refreshByPath(sdir)
    assert {
        tuple(r) for r in spark.read.parquet(sdir)
        .select("doc_id", "n_spans", "n_dup_spans").collect()
    } == pristine_stats
    # and the layout folds normally afterwards
    dd.span_fold_in_place(spark, pdir, sdir, delivery)


def test_span_fold_in_place_with_spans_schedules_zero_jobs(spark,
                                                          tmp_path):
    """The x17 fold discipline, pinned like the graph fold
    (tests/test_graph.py): a delivery whose spans are already
    collected folds through the entry as Arrow compute + file IO —
    ZERO Spark jobs."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 3 == 0)
    delivery = docs.filter(F.col("doc_id") % 3 == 1)
    pdir = str(tmp_path / "postings")
    sdir = str(tmp_path / "stats")
    dd.write_span_postings(dd.span_postings_frame(base), pdir)
    dd.write_span_stats(
        dd.span_stats_from_postings(dd.span_postings_frame(base)), sdir
    )
    exploded = dd._span_exploded_frame(delivery).toArrow().select(
        ["doc_id", "h"]
    )
    sc = spark.sparkContext
    group = "hfc-span-zero-job-fold"
    sc.setJobGroup(group, "span fold must not schedule jobs")
    try:
        dd.span_fold_in_place(spark, pdir, sdir, delivery,
                              spans=exploded)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # and it actually folded: the delivery's docs are in the stats
    got = {r.doc_id for r in spark.read.parquet(sdir).collect()}
    assert set(exploded.column("doc_id").to_pylist()) <= got
