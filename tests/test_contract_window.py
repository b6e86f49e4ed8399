"""Guard the driver-correctness window (VERDICT r5 items 1/8).

The driver's correctness gate checks the FIRST 50 entries of
``entrypoints.QUERIES`` in dict order. Round 5 appended new queries, so its
flagship snapshot/streaming work fell past index 49 and shipped with zero
driver rows. This test pins the ordering contract:

- every §2-critical operator's representative query sits inside the window;
- the r5 window-starved set (snapshot sink, streaming, multimodal) sits
  inside the window;
- everything past index 49 is an explicitly twin-covered variant.
"""

from __future__ import annotations

DRIVER_WINDOW = 50

# one gated representative per §2 operator family + the r5-starved set
MUST_BE_IN_WINDOW = {
    # sink / streaming / multimodal (r5 starved set)
    "snapshot_lineage", "snapshot_prune", "snapshot_incremental",
    "snapshot_evolution", "snapshot_stream", "snapshot_rollback",
    "stream_dedup", "image_neardup_phash", "tile_slice_geometry",
    "image_features", "video_frame_sample", "audio_features",
    # §2 spatial core
    "quadrant_counts", "quadtree_cells", "quadrant_search", "point_lookup",
    "range_filter", "validate_cells", "cell_rollup", "knn", "knn_cells",
    "distance_join", "tile_assign", "tile_pyramid", "event_window_tiles",
    "pip_rects", "pip_convex", "pip_polygon_join", "pip_polygon_holes",
    "mutation_cells", "neighbor_ring", "cluster_layout",
    # LLM-data-pipeline surface
    "token_counts", "quality_scores", "quality_quantiles", "exact_dedup",
    "winnow_neardup", "corpus_select", "corpus_select_neardup",
    "corpus_sample", "corpus_mix", "minhash_buckets", "decontaminate",
    "simhash", "simhash_neardup", "neardup_components", "ann_topk",
    "ann_ivf", "doc_clusters", "embedding_neardup_lsh",
}

# past-window entries must each name an in-window twin in the dict comment;
# this mapping is the machine-checked version of those comments
TAIL_TWINS = {
    "cell_counts_d4": "quadrant_counts",
    "quadrant_search_broadcast": "quadrant_search",
    "pip_polygon_join_convex": "pip_polygon_join",
    "embedding_neardup": "embedding_neardup_lsh",
    "doc_fingerprints": "exact_dedup",
    "winnow_fingerprints": "winnow_neardup",
    "bpe_token_counts": "token_counts",
    "ngram_jaccard_topk": "minhash_buckets",
    "density_topk": "quadrant_counts",
    "lang_id": "token_counts",
    "cell_cardinality_kmv": "quadrant_counts",
    "cells_bbox_join": "snapshot_prune",
}


def test_driver_window_covers_critical_queries():
    from geospatial_cuda_spark.entrypoints import ORACLES, QUERIES

    names = list(QUERIES)
    window = set(names[:DRIVER_WINDOW])
    missing = MUST_BE_IN_WINDOW - window
    assert not missing, (
        f"§2-critical / r5-starved queries past the driver's "
        f"{DRIVER_WINDOW}-entry correctness window: {sorted(missing)}"
    )
    tail = names[DRIVER_WINDOW:]
    unexplained = [n for n in tail if n not in TAIL_TWINS]
    assert not unexplained, (
        f"queries past index {DRIVER_WINDOW - 1} without a declared "
        f"in-window twin: {unexplained} — either move them into the window "
        "or add a twin entry here AND a comment in the QUERIES dict"
    )
    for n, twin in TAIL_TWINS.items():
        assert twin in window, f"{n}'s declared twin {twin} is itself outside"
    # every declared query still carries an oracle — reordering must never
    # drop one
    assert set(ORACLES) == set(QUERIES)


def test_driver_wrapper_lists_queries_in_registry_order():
    """The driver's window reads ``__spark_entry__``, not the module dicts:
    ``queries()`` and ``oracle_sql()`` must both list their names in
    ``QUERIES`` order, and the oracle module must state exactly one oracle
    per registered query."""
    import __spark_entry__ as E

    from geospatial_cuda_spark.contract.oracles import _oracle_sqls
    from geospatial_cuda_spark.entrypoints import QUERIES

    names = list(QUERIES)
    assert list(E.queries()) == names
    assert list(E.oracle_sql()) == names
    assert set(_oracle_sqls()) == set(names)
