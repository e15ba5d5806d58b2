"""Each plan is compiled once per JVM.

Catalyst compiles a plan's generated Java with Janino and keeps the
class in one JVM-wide LRU cache, sized in ``session.get_spark``.  A
warm call whose plans are all in the cache compiles nothing, so the
compile count of a warm pass is a deterministic gate on the cache size
and on any face whose generated code changes from call to call.

The one such source found: adaptive execution numbers whole-stage
codegen stages in the order its query stages finish, which can differ
between two calls of the same face
(``a6_ratio_customers_with_orders`` and ``ret_maintained_bm25_parity``
recompiled 4-6 classes on some warm passes).  The stage id is in the
generated class name unless ``spark.sql.codegen.useIdInClassName`` is
off; the session turns it off, and the id stays in a code comment,
which the cache key ignores.

Outside these faces, a second pass of all 181 faces at sf0.1 still
compiles 2 classes: ``dd_semantic_dup_clusters_lsh`` swaps a join's
build side once its session-persisted index is cached, so its second
call runs a different plan from its first; later calls compile none.
"""
from __future__ import annotations

from hfcommunity_spark.queries import all_queries
from hfcommunity_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE

# One face per operator module: the faces of the benchmark's
# ``inventory`` workload.
INVENTORY_FACES = (
    "a3_run_counters",
    "a6_ratio_customers_with_orders",
    "d2_upsert_last_writer",
    "dd_maintained_pairs_parity",
    "g_pagerank_fixed_iter",
    "j12_fuzzy_blocked_join",
    "layout_zorder_pruning_audit",
    "mm_byte_features",
    "p2_watermark_split_counts",
    "pipe_curate_select_pack_shard",
    "q13_customer_order_distribution",
    "ret_maintained_bm25_parity",
    "samp_mixture_weights",
    "samp_repeat_schedule",
    "sim_kmeans_ivf_topk",
    "skew_salted_agg_parity",
    "t_pii_scrub_stats",
    "ud3_grouped_agg_cents",
    "x3_sliding_halfhour",
)


def test_warm_inventory_pass_compiles_no_class(spark):
    """A pass of the 19 inventory faces, run again in the same JVM,
    compiles exactly 0 classes (a first pass compiles ~400; with the
    cache at Spark's default of 100 entries the warm pass recompiled
    ~280, and at 4096 with the stage id in the class name 8-10)."""
    specs = all_queries()

    def run_pass():
        for face in INVENTORY_FACES:
            specs[face].spark(spark, SF_SMOKE).toArrow()

    run_pass()
    before, _ = codegen_compiles(spark)
    run_pass()
    assert codegen_compiles(spark)[0] - before == 0
