"""Round-8 operator additions: record linkage, hybrid RRF retrieval,
the maintained BM25 index, int8 scalar-quantized ANN, and
fixed-iteration integer PageRank.

The oracle parity suite (tests/test_oracle_parity.py) already locks
each declared face against DuckDB at the driver's comparison scale;
these tests lock the PROPERTIES the oracles cannot see — plan shapes,
physical disciplines, and the operator-level invariants (delta ==
rebuild on arbitrary splits, quantized recall under a covering pool,
partitioning-independence of the integer PageRank)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hfcommunity_spark.operators import placement
from tests.conftest import SF_ORACLE, SF_SMOKE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# --- j12: blocked fuzzy record linkage -------------------------------


def test_fuzzy_blocked_pairs_semantics(spark):
    from hfcommunity_spark.operators.linkage import (
        distinct_blocked_names,
        fuzzy_blocked_pairs,
    )

    recs = spark.createDataFrame(
        [("red widget",), ("red widget",), ("bed widget",), ("red gear",),
         ("blue gear",), (None, )],
        "name string",
    ).filter(F.col("name").isNotNull())
    names = distinct_blocked_names(
        recs, "name", F.split(F.col("name"), " ")[1]
    )
    got = {tuple(r) for r in names.collect()}
    # distinct-first: multiplicities collapse into n_records
    assert ("red widget", "widget", 2) in got and len(got) == 4

    pairs = fuzzy_blocked_pairs(names, max_dist=2).collect()
    for r in pairs:
        assert r.name_a < r.name_b          # canonical orientation
        assert r.dist <= 2
    # cross-block near-names never pair: "red widget" vs "red gear"
    # share no block even though dist is small for other metrics
    keys = {(r.name_a, r.name_b) for r in pairs}
    assert ("bed widget", "red widget") in keys
    assert all("gear" not in a or "gear" in b for a, b in keys)


def test_fuzzy_join_plan_is_blocked(spark):
    """The pairwise kernel must ride an equi-join on the block key —
    never a cartesian product with a distance filter."""
    from hfcommunity_spark.queries import all_queries

    df = all_queries()["j12_fuzzy_blocked_join"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


# --- hybrid RRF fusion -----------------------------------------------


def test_rrf_fusion_rank_contract(spark):
    from hfcommunity_spark.queries import all_queries

    rows = all_queries()["sim_hybrid_rrf_topk"].spark(
        spark, SF_ORACLE
    ).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    # fused scores are positive, bounded by the best-possible double
    # contribution 2/(k+1), and monotone in rank
    scores = [r.rrf_rounded for r in rows]
    assert all(0 < s <= 2 / 61 + 1e-9 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_rrf_pool_windows_are_bounded(spark):
    """The rank windows run over pool cuts (≤RRF_POOL rows), never the
    corpus: both ranker branches end in TakeOrderedAndProject before
    any Window."""
    from hfcommunity_spark.queries import all_queries

    df = all_queries()["sim_hybrid_rrf_topk"].spark(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2


# --- maintained BM25 index -------------------------------------------


def test_bm25_delta_equals_rebuild_any_split(spark):
    """The fold is associative for EVERY split, not just the declared
    one: folding an arbitrary 3-way split must reproduce the one-shot
    scored frame exactly (scores are rounded the same way on both
    paths, so equality is exact)."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.retrieval import (
        _bm25_frames,
        _bm25_scored_from,
        bm25_index_delta,
        bm25_scored,
    )

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    part_a = docs.filter(F.col("doc_id") % 3 == 0)
    part_b = docs.filter(F.col("doc_id") % 3 == 1)
    part_c = docs.filter(F.col("doc_id") % 3 == 2)

    tf, dl, st = _bm25_frames(part_a)
    tf, dl, st = bm25_index_delta(tf, dl, st, part_b)
    tf, dl, st = bm25_index_delta(tf, dl, st, part_c)
    folded = {tuple(r) for r in _bm25_scored_from(tf, dl, st).collect()}
    oneshot = {tuple(r) for r in bm25_scored(docs).collect()}
    assert folded == oneshot and len(oneshot) > 0


def test_bm25_delta_empty_delivery_is_identity(spark):
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.retrieval import (
        _bm25_frames,
        _bm25_scored_from,
        bm25_index_delta,
        bm25_scored,
    )

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    empty = docs.filter(F.lit(False))
    tf, dl, st = bm25_index_delta(*_bm25_frames(docs), empty)
    folded = {tuple(r) for r in _bm25_scored_from(tf, dl, st).collect()}
    oneshot = {tuple(r) for r in bm25_scored(docs).collect()}
    assert folded == oneshot


# --- sq8 quantized ANN -----------------------------------------------


def test_sq8_codes_are_bytes(spark):
    from hfcommunity_spark.operators.similarity import (
        SQ8_LEVELS,
        sq8_codes,
    )

    stats = sq8_codes(spark, SF_SMOKE).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).head()
    assert 0 <= stats.lo and stats.hi <= SQ8_LEVELS


def test_sq8_covering_pool_matches_exact(spark):
    """When the candidate pool covers the whole corpus slice, the
    quantized first pass cannot drop a true neighbor, so the re-ranked
    output must equal the exact brute-force ranking — the rerank stage
    is exact by construction."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.similarity import (
        SQ8_POOL,
        _cosine_to_query_udf,
        _query_vector,
        _rank_topk,
        sq8_quantize,
        sq8_rerank_topk,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings").filter(
        F.col("vec_id") <= SQ8_POOL
    )
    sq8 = sq8_rerank_topk(emb, sq8_quantize(emb))
    q = _query_vector(emb)
    exact = _rank_topk(
        emb.filter(F.col("vec_id") != 0).select(
            "vec_id",
            _cosine_to_query_udf(q)(F.col("embedding")).alias("sim"),
        )
    )
    assert {tuple(r) for r in sq8.collect()} == {
        tuple(r) for r in exact.collect()
    }


# --- fixed-iteration integer PageRank --------------------------------


@pytest.fixture(scope="module")
def pr_edges(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (3, 2), (1, 3), (4, 1), (1, 4)],
        "src long, dst long",
    )
    return edges


def test_pagerank_partitioning_independence(spark, pr_edges):
    """Integer arithmetic makes the result exactly reproducible under
    any physical partitioning — the property that lets an iterative
    algorithm live in a hash-checked gate."""
    from hfcommunity_spark.operators.graph import pagerank_fixed

    a = {tuple(r) for r in pagerank_fixed(pr_edges).collect()}
    b = {
        tuple(r)
        for r in pagerank_fixed(pr_edges.repartition(7, "dst")).collect()
    }
    assert a == b and len(a) == 4


def test_pagerank_mass_bounds(spark, pr_edges):
    """Each round redistributes at most the full mass (integer DIV only
    truncates), and every node keeps at least the jump floor."""
    from hfcommunity_spark.operators.graph import (
        PR_JUMP,
        PR_SCALE,
        pagerank_fixed,
    )

    rows = pagerank_fixed(pr_edges).collect()
    n = len(rows)
    total = sum(r.pr for r in rows)
    assert total <= n * PR_SCALE
    assert all(r.pr >= PR_JUMP for r in rows)


def test_pagerank_favors_high_in_degree(spark, pr_edges):
    """Node 1 has in-edges from 2, 3 and 4; node 4 only from 1 — the
    3-round rank must order them accordingly."""
    from hfcommunity_spark.operators.graph import pagerank_fixed

    pr = {r.node: r.pr for r in pagerank_fixed(pr_edges).collect()}
    assert pr[1] > pr[4]


# --- maintained IVF index (round-8 #2) --------------------------------


def test_ivf_delta_equals_oneshot_any_split(spark):
    """Appending deliveries to the standing lists must reproduce the
    one-shot assignment of the whole frame against the SAME frozen
    codebook — for an arbitrary 3-way split, not just the declared
    one."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.kmeans import assign_cells
    from hfcommunity_spark.operators.similarity import (
        _centroid_rows,
        ivf_index_delta,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cent = {
        r.cell: list(map(float, r.centroid))
        for r in _centroid_rows(emb).collect()
    }
    centroids = [cent[k] for k in sorted(cent)]

    parts = [emb.filter(F.col("vec_id") % 3 == k) for k in range(3)]
    lists = assign_cells(parts[0], centroids).select(
        "vec_id", "cell", "embedding"
    )
    for p in parts[1:]:
        lists = ivf_index_delta(lists, p, centroids)
    folded = {
        (r.vec_id, r.cell)
        for r in lists.select("vec_id", "cell").collect()
    }
    oneshot = {
        (r.vec_id, r.cell)
        for r in assign_cells(emb, centroids)
        .select("vec_id", "cell").collect()
    }
    assert folded == oneshot and len(oneshot) > 0


def test_ivf_delta_empty_delivery_is_identity(spark):
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.kmeans import assign_cells
    from hfcommunity_spark.operators.similarity import (
        _centroid_rows,
        ivf_index_delta,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cent = {
        r.cell: list(map(float, r.centroid))
        for r in _centroid_rows(emb).collect()
    }
    centroids = [cent[k] for k in sorted(cent)]
    base = assign_cells(emb, centroids).select("vec_id", "cell", "embedding")
    folded = ivf_index_delta(
        base, emb.filter(F.lit(False)), centroids
    )
    assert folded.count() == base.count()


def test_ivf_probe_prefix_covers_candidate_floor(spark):
    """The count-driven multi-probe must pick the minimal nearest-
    first cell prefix whose folded occupancy reaches IVF_MIN_CAND
    (or every cell) — the probe SET is what stale counts would get
    wrong, so its construction is locked here."""
    import numpy as np

    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.kmeans import (
        _pairwise_sq_dists,
        assign_cells,
    )
    from hfcommunity_spark.operators.similarity import (
        IVF_MIN_CAND,
        _centroid_rows,
        _query_vector,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings")
    cent = {
        r.cell: list(map(float, r.centroid))
        for r in _centroid_rows(emb).collect()
    }
    centroids = [cent[k] for k in sorted(cent)]
    counts = {
        r.cell: r.cnt
        for r in assign_cells(emb.filter(F.col("vec_id") != 0), centroids)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    q = _query_vector(emb)
    d2 = _pairwise_sq_dists(
        q[None, :].astype(np.float64), np.asarray(centroids, np.float64)
    )[0]
    order = sorted(range(len(centroids)), key=lambda i: (d2[i], i))
    probe, cum = [], 0
    for cell in order:
        if cum >= IVF_MIN_CAND:
            break
        probe.append(cell)
        cum += counts.get(cell, 0)
    covered = sum(counts.get(c, 0) for c in probe)
    assert covered >= min(IVF_MIN_CAND, sum(counts.values()))
    # minimality: dropping the last probed cell falls under the floor
    if len(probe) > 1:
        assert sum(counts.get(c, 0) for c in probe[:-1]) < IVF_MIN_CAND
    # argmin margins dwarf cross-engine float noise (the sim_ivf_topk
    # determinism contract, re-checked for the query→cell ordering)
    gaps = np.diff(np.sort(d2))
    assert (gaps[gaps > 0] > 1e-9).all()


# --- UniMax budget allocator (round-8 #2) ------------------------------


def _unimax_reference(nats: dict, epoch_cap: int, budget: int) -> dict:
    """Straight-line reference waterfill (ascending caps, prefix
    capping, floor level) for property checks."""
    items = sorted(nats.items(), key=lambda kv: (kv[1] * epoch_cap, kv[0]))
    n = len(items)
    alloc, rem, m = {}, budget, n
    for src, nat in items:
        cap = nat * epoch_cap
        if cap * m <= rem:
            alloc[src] = cap
            rem -= cap
            m -= 1
        else:
            level = rem // m
            for s2, n2 in items:
                if s2 not in alloc:
                    alloc[s2] = level
            break
    return alloc


def test_unimax_deep_capping_synthetic(spark):
    """The sf-data spread only caps the smallest sources; this skewed
    frame drives the cap through most of the prefix so the deep branch
    (multiple capped sources, late water level) is locked too."""
    from hfcommunity_spark.operators.sampling import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        UNIMAX_EPOCH_CAP,
        samp_unimax_budget,
    )
    import os
    import tempfile

    rows = []
    doc_id = 0
    # sources with 1, 2, 4, ..., 512 ten-token docs: heavy skew
    for k in range(10):
        for _ in range(2 ** k):
            rows.append((doc_id, "t " * 9 + "t", "en", f"s{k:02d}", 19))
            doc_id += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r.source: (r.nat_tokens, r.cap_tokens, r.alloc_tokens, r.capped)
            for r in samp_unimax_budget(spark, tmp).collect()
        }
    nats = {f"s{k:02d}": 10 * 2 ** k for k in range(10)}
    total = sum(nats.values())
    budget = total * UNIMAX_BUDGET_NUM // UNIMAX_BUDGET_DEN
    ref = _unimax_reference(nats, UNIMAX_EPOCH_CAP, budget)
    assert {s: a for s, (_, _, a, _) in got.items()} == ref
    capped = [s for s, (_, _, _, c) in got.items() if c]
    assert len(capped) >= 3  # the deep branch actually fired
    # budget respected; undershoot bounded by the floor remainders
    spent = sum(ref.values())
    assert spent <= budget and budget - spent < len(nats)


# --- BPE merge step (round-8 #2) ---------------------------------------


def test_bpe_greedy_replace_semantics(spark):
    """Left-to-right non-overlapping replace IS the BPE greedy rule:
    'aaaa' with merge (a,a) becomes [aa][aa] (no overlap), 'aaa'
    becomes [aa][a]."""
    from hfcommunity_spark.operators.textops import (
        BPE_MARK,
        _bpe_pair_counts,
    )

    wf = spark.createDataFrame(
        [("aaaa", 1), ("aaa", 1), ("ab", 3)], "w string, n long"
    )
    p1 = {(r.a, r.b): r.cnt for r in _bpe_pair_counts(wf).collect()}
    # 'aaaa' has 3 adjacent aa, 'aaa' has 2 — pair counting sees all
    assert p1[("a", "a")] == 5 and p1[("a", "b")] == 3
    merged = wf.select(
        F.expr(f"replace(w, 'aa', '{BPE_MARK}')").alias("w"), "n"
    )
    got = {r.w for r in merged.collect()}
    assert got == {BPE_MARK * 2, BPE_MARK + "a", "ab"}
    # post-merge pair counts over the rewritten symbols
    p2 = {(r.a, r.b): r.cnt for r in _bpe_pair_counts(merged).collect()}
    assert p2[(BPE_MARK, BPE_MARK)] == 1 and p2[(BPE_MARK, "a")] == 1


def test_bpe_word_type_table_bounds_pair_stage(spark):
    """The pair stage must consume the DISTINCT word-type table, never
    the corpus: repeating every document must not change pair counts
    derived per word type beyond the n-weighting."""
    from hfcommunity_spark.operators.textops import t_bpe_merge_pairs
    import os
    import tempfile

    rows = [(i, "spark join spark", "en", "s0", 16) for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = t_bpe_merge_pairs(spark, tmp).collect()
    got = {(r.sym_a, r.sym_b): r.pair_count for r in out}
    # top-1 merge is (a,r): 'spark'x8 -> s-p,p-a,a-r,r-k; 'join'x4;
    # pair (a,r) count 8 ties (p,a),(r,k),(s,p) — tie-break ASC picks
    # (a,r); expanded pairs then carry 'ar' as a symbol
    assert ("p", "ar") in got and got[("p", "ar")] == 8
    assert ("ar", "k") in got and got[("ar", "k")] == 8


# --- streamed maintained index (round-8 #3) ----------------------------


def test_x14_fold_body_under_real_micro_batches(spark, tmp_path):
    """The x14 fold body runs under a REAL Structured Streaming
    foreachBatch: deliveries land as parquet files, each micro-batch
    folds into the running index, and the final folded artifacts must
    score identically to the one-shot rebuild over base+deliveries."""
    import os

    from pyspark.sql import types as T

    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.retrieval import (
        _bm25_frames,
        _bm25_scored_from,
        bm25_index_delta,
        bm25_scored,
    )

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    deliveries = [
        docs.filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 3 == k))
        for k in range(3)
    ]
    state = [df.localCheckpoint() for df in _bm25_frames(base)]

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "deliveries_in")

    def fold_batch(batch_df, batch_id):
        tf, dl, st = bm25_index_delta(*state, batch_df)
        # materialize the fold like a maintained table would be
        state[0] = tf.localCheckpoint()
        state[1] = dl.localCheckpoint()
        state[2] = st.localCheckpoint()

    for k, d in enumerate(deliveries):
        d.coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", f"{tmp_path}/ckpt_x14")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    folded = {
        tuple(r) for r in _bm25_scored_from(*state).collect()
    }
    oneshot = {tuple(r) for r in bm25_scored(docs).collect()}
    assert folded == oneshot and len(oneshot) > 0


def test_x14_serves_every_prefix(spark):
    """Each delivery's served ranking must equal the from-scratch
    ranking of that PREFIX corpus (not just the final state)."""
    from hfcommunity_spark.operators.dedup import (
        _delta_arriving_docs,
        _delta_base_docs,
    )
    from hfcommunity_spark.operators.lm import ranked_topk
    from hfcommunity_spark.operators.retrieval import (
        BM25_TOP_K,
        _x14_batch,
        bm25_scored,
        x14_stream_maintained_index,
    )

    got = {
        (r.delivery_id, r.doc_id, r.rank, r.score_rounded)
        for r in x14_stream_maintained_index(spark, SF_SMOKE).collect()
    }
    base = _delta_base_docs(spark, SF_SMOKE)
    arriving = _delta_arriving_docs(spark, SF_SMOKE)
    prefix = base
    want = set()
    for k in range(3):
        prefix = prefix.unionByName(_x14_batch(arriving, k))
        for r in ranked_topk(
            bm25_scored(prefix), "score_rounded", BM25_TOP_K
        ).collect():
            want.add((k, r.doc_id, r.rank, r.score_rounded))
    assert got == want


# --- merge-base BFS-meet (round-8 #3) ----------------------------------


def test_merge_base_agrees_with_git_on_fixture_pairs(spark):
    """On ancestor-of pairs the BFS-meet equals git's own merge-base;
    run the real `git merge-base` against the fixture repo and compare
    every declared pair where git reports a unique base that is one of
    the pair (the ancestor-of case) or the unique fork point."""
    import subprocess

    from hfcommunity_spark.operators.etlops import (
        _MB_PAIRS_BY_RANK,
        _fixture_dag_repo,
        g_merge_base,
    )

    base_dir = _fixture_dag_repo(spark, SF_ORACLE)
    repo = f"{base_dir}/fixture"
    # map rank -> sha via commit messages (fixture order)
    log = subprocess.run(
        ["git", "-C", repo, "log", "--format=%H %s", "--all"],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    sha_of_msg = {}
    for line in log:
        sha, msg = line.split(" ", 1)
        sha_of_msg[msg] = sha
    got = {
        (r.message_a, r.message_b): (r.base_message, r.hops_a, r.hops_b)
        for r in g_merge_base(spark, SF_ORACLE).collect()
    }
    assert len(got) == len(_MB_PAIRS_BY_RANK)
    for (ma, mb), (mbase, ha, hb) in got.items():
        gitbase = subprocess.run(
            ["git", "-C", repo, "merge-base",
             sha_of_msg[ma], sha_of_msg[mb]],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        if ha == 0 or hb == 0:
            # ancestor-of pairs: BFS-meet and git agree exactly
            assert sha_of_msg[mbase] == gitbase, (ma, mb)
        # every reported base must be a real common ancestor per git
        for m in (ma, mb):
            rc = subprocess.run(
                ["git", "-C", repo, "merge-base", "--is-ancestor",
                 sha_of_msg[mbase], sha_of_msg[m]],
            ).returncode
            assert rc == 0, (mbase, m)


def test_commit_ancestors_local_twin_matches_distributed(spark, monkeypatch):
    """Round-13: g_commit_ancestors shares the merge-base twin's
    driver-local reach (same fixture, same gates) — forced to the
    distributed map_fetch + ancestors + message-join plan with
    ANC_LOCAL_WORK_MAX pinned to 0, the two must agree exactly
    (min-hops through the rank-5 short-cut edge included)."""
    import hfcommunity_spark.operators.etlops as E

    local = sorted(
        tuple(r) for r in E.g_commit_ancestors(spark, SF_ORACLE).collect()
    )
    assert local, "no ancestry rows"
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 0)
        dist = sorted(
            tuple(r) for r in
            E.g_commit_ancestors(spark, SF_ORACLE).collect()
        )
    assert local == dist


def test_commit_ancestors_local_twin_schedules_zero_jobs(spark):
    """Fixture cached -> the ancestors-face twin is two git
    subprocesses + Python BFS + a local-relation upload: zero jobs."""
    import hfcommunity_spark.operators.etlops as E

    E._fixture_dag_repo(spark, SF_ORACLE)
    sc = spark.sparkContext
    group = "hfc-commit-anc-zero-job"
    sc.setJobGroup(group, "ancestors twin must not schedule jobs")
    try:
        out = E._commit_ancestors_local(spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out is not None
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_merge_base_local_twin_matches_distributed(spark, monkeypatch):
    """The round-13 driver-local merge-base twin (driver-side
    git_log_rows + Python BFS-meet) must equal the distributed
    reach-set plan exactly — ANC_LOCAL_WORK_MAX pinned to 0 forces the
    map_fetch + ancestors + window pipeline on the same fixture."""
    import hfcommunity_spark.operators.etlops as E

    local = sorted(
        tuple(r) for r in E.g_merge_base(spark, SF_ORACLE).collect()
    )
    assert len(local) == len(E._MB_PAIRS_BY_RANK)
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 0)
        dist = sorted(
            tuple(r) for r in E.g_merge_base(spark, SF_ORACLE).collect()
        )
    assert local == dist


def test_merge_base_rank_binding_derived_from_documents(spark):
    """r14 (VERDICT r13 'fixture-shaped twin' watch item): the twin's
    rank↔message binding comes from the documents TABLE via the
    footer-gated driver-local read — element i of the derived list
    must equal the distributed plan's rk_msg row at rk=i — and the
    binding helper mirrors the inner join: unmatched messages drop,
    duplicate commit messages refuse (the join would fan out)."""
    import hfcommunity_spark.operators.etlops as E
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    expected = E._fixture_doc_messages_local(SF_ORACLE)
    assert expected is not None and len(expected) == E._GIT_FIXTURE_DOCS
    fd = (
        E.read_table(spark, SF_ORACLE, "documents")
        .filter(F.col("n_chars") > 0)
        .orderBy("doc_id")
        .limit(E._GIT_FIXTURE_DOCS)
        .select("doc_id")
    )
    rk_msg = fd.withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id")) - 1
    ).select(
        "rk",
        F.concat(F.lit("dag doc "), F.col("doc_id")).alias("message"),
    )
    dist = {r.rk: r.message for r in rk_msg.collect()}
    assert dist == dict(enumerate(expected))
    # binding semantics: unmatched expected messages drop (inner join)
    bound = E._bind_ranks_by_message(
        {"sha0": expected[0], "shaZ": "not a fixture message"}, expected
    )
    assert bound == {0: "sha0"}
    # duplicate commit messages: rank would fan out — refuse (None)
    assert E._bind_ranks_by_message(
        {"sha0": expected[0], "sha1": expected[0]}, expected
    ) is None


def test_merge_base_doc_gate_falls_back_to_distributed(spark, monkeypatch):
    """MB_DOC_LOCAL_ROW_MAX pinned to 0 must gate the twin out at the
    documents footer probe (before any driver-side column read) and
    leave the face on the distributed plan with identical results."""
    import hfcommunity_spark.operators.etlops as E

    local = sorted(
        tuple(r) for r in E.g_merge_base(spark, SF_ORACLE).collect()
    )
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "MB_DOC_LOCAL_ROW_MAX", 0)
        assert E._fixture_doc_messages_local(SF_ORACLE) is None
        assert E._merge_base_local(spark, SF_ORACLE) is None
        dist = sorted(
            tuple(r) for r in E.g_merge_base(spark, SF_ORACLE).collect()
        )
    assert local == dist


def test_merge_base_local_twin_schedules_zero_jobs(spark):
    """Once the fixture repo is scratch-cached, the merge-base twin is
    two git subprocesses + Python BFS + a local-relation upload — ZERO
    Spark jobs at construction (the graph-fold discipline; VERDICT
    r12 #5's budget net extended to the r13 twin)."""
    import hfcommunity_spark.operators.etlops as E

    E._fixture_dag_repo(spark, SF_ORACLE)  # warm the scratch cache
    sc = spark.sparkContext
    group = "hfc-merge-base-zero-job"
    sc.setJobGroup(group, "merge-base twin must not schedule jobs")
    try:
        out = E._merge_base_local(spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out is not None
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_fuzzy_block_single_word_names_not_dropped(spark):
    """A one-word name must land in block '' (matching the oracle's
    split_part semantics) — under ANSI mode a bare [1] index would
    THROW ArrayIndexOutOfBounds, and a NULL block would silently drop
    the row from the equi-join on the Spark side only."""
    from hfcommunity_spark.operators.linkage import (
        distinct_blocked_names,
        fuzzy_blocked_pairs,
    )

    recs = spark.createDataFrame(
        [("anvil",), ("anvil",), ("anvi",), ("red anvil",)],
        "name string",
    )
    names = distinct_blocked_names(
        recs, "name",
        F.coalesce(F.get(F.split(F.col("name"), " "), 1), F.lit("")),
    )
    blocks = {r.name: r.block for r in names.collect()}
    assert blocks["anvil"] == "" and blocks["anvi"] == ""
    pairs = {
        (r.name_a, r.name_b)
        for r in fuzzy_blocked_pairs(names, max_dist=2).collect()
    }
    assert ("anvi", "anvil") in pairs


def test_pagerank_local_twin_matches_distributed(spark, pr_edges, monkeypatch):
    """The round-12 driver-local PageRank twin must equal the
    distributed join/groupBy rounds exactly — including the drop-out
    semantics (nodes that receive no contribution leave the rank
    frame) — with PR_LOCAL_EDGE_MAX pinned to 0 forcing the
    distributed path on the same edges."""
    from hfcommunity_spark.operators.graph import pagerank_fixed

    local = {tuple(r) for r in pagerank_fixed(pr_edges).collect()}
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "PR_LOCAL_EDGE_MAX", 0)
        dist = {tuple(r) for r in pagerank_fixed(pr_edges).collect()}
    assert local == dist and len(local) > 0
