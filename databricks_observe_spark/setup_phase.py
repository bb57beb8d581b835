"""The declared bench setup phase, shared by bench.py and
tools/bench_vs_duckdb.py so the two harnesses can never drift apart
(they once did: a builder added to one list but not the other silently
charged an index build to the first timed pass of a query).

Every entry is a BUILD-ONCE artifact: at scale a written table (or
trained model / long-lived runtime state) maintained by ingest, so
steady-state query timings measure execution against the index, not
index construction. The build cost is timed by the callers and reported
separately as ``setup_sec``.
"""

from __future__ import annotations

import os

# names published in bench.py's "setup" JSON field. 1:1 with the
# builders, in builder order — `setup_builders()` returns the same
# names keyed to their builder callables and a test pins the equality,
# so the two can no longer drift (they did through r8: two builders had
# no published name).
SETUP_INDEX_NAMES = [
    "doc_tokens", "shingle_index", "shingle_df", "shingle_sizes",
    "simhash_fingerprints", "minhash_signatures", "lsh_buckets",
    "char_trigrams", "tfidf_tf", "bm25_doclen_df_stats",
    "langid_trained_profiles", "textrank_cooccurrence_graph",
    "vector_norms", "kmeans_fixed_point", "ann_query_set",
    "ivf_assignment", "int8_quantized_vectors", "near_dup_cluster_labels",
    "file_listing", "semdedup_assignment", "jaccard_pairs_capped",
    "hist_value_agg", "contam_gram_index", "contam_eval_set",
    "dsir_score_table", "unigram_lp_table", "bpe_encoded_vocab",
    "bloom_eval_bitmap",
]


# Builder dependency graph (r22, guide §2.6 "overlap independent jobs"):
# edges name every OTHER builder whose memoized ctx keys a builder reads.
# Derived empirically — each builder was run against a FRESH ctx and the
# set of memo keys it created recorded; A depends on B iff A's run also
# creates B's own keys — and pinned structurally by
# tests/test_fixture_contract.py (key set, validity, acyclicity). The
# topological thread pool in build_setup_indexes only overlaps builders
# with no path between them, so no two concurrent builders ever touch
# the same memo key: every shared key belongs to a completed dependency.
# (No builder mutates session confs — loop_conf is query-side only — so
# overlapping them is safe; guide §2.6's FIFO back-fill does the rest.)
SETUP_DEPS: dict[str, list[str]] = {
    "doc_tokens": [],
    "shingle_index": [],
    "shingle_df": ["shingle_index"],
    "shingle_sizes": ["shingle_index"],
    "simhash_fingerprints": ["doc_tokens"],
    "minhash_signatures": ["shingle_index"],
    "lsh_buckets": ["vector_norms"],
    "char_trigrams": [],
    "tfidf_tf": ["doc_tokens"],
    "bm25_doclen_df_stats": ["doc_tokens", "tfidf_tf"],
    "langid_trained_profiles": ["char_trigrams"],
    "textrank_cooccurrence_graph": ["doc_tokens"],
    "vector_norms": [],
    "kmeans_fixed_point": ["vector_norms"],
    "ann_query_set": ["vector_norms"],
    "ivf_assignment": ["kmeans_fixed_point", "vector_norms"],
    "int8_quantized_vectors": ["vector_norms"],
    "near_dup_cluster_labels": ["shingle_df", "shingle_index", "shingle_sizes"],
    "file_listing": [],
    "semdedup_assignment": ["vector_norms"],
    "jaccard_pairs_capped": ["shingle_df", "shingle_index", "shingle_sizes"],
    "hist_value_agg": [],
    "contam_gram_index": [],
    "contam_eval_set": ["contam_gram_index"],
    "dsir_score_table": ["doc_tokens", "tfidf_tf"],
    "unigram_lp_table": ["doc_tokens", "tfidf_tf"],
    "bpe_encoded_vocab": ["doc_tokens"],
    "bloom_eval_bitmap": ["contam_eval_set", "contam_gram_index"],
}


def setup_builders() -> dict:
    """Published name -> builder callable, in build order. The single
    source of truth `build_setup_indexes` iterates and the pin
    `tests/test_fixture_contract.py` holds against SETUP_INDEX_NAMES."""
    from databricks_observe_spark.functions.textfns import doc_tokens
    from databricks_observe_spark.operators.catalog_ops import (
        _file_stats,
        _hist_vals,
    )
    from databricks_observe_spark.operators.dedup import (
        _bloom_filter_df,
        _cluster_labels,
        _contam_eval_set,
        _contam_grams,
        _shingle_df,
        _shingle_sizes,
        _shingled,
        _simhash_fps,
        minhash_signatures,
        ngram_jaccard_pairs_capped,
    )
    from databricks_observe_spark.operators.similarity import (
        _bucketed,
        _centroids_bc,
        _doubled,
        _ivf_assigned,
        _quantized,
        _query_set_bc,
        _semdedup_assigned,
    )
    from databricks_observe_spark.operators.text import (
        _bm25_index,
        _bpe_encodings,
        _char_trigrams,
        _dsir_scores,
        _langid_profiles,
        _textrank_graph,
        _tfidf_tf_frame,
        _unigram_lp,
    )

    return {
        "doc_tokens": doc_tokens,
        "shingle_index": _shingled,
        "shingle_df": _shingle_df,
        "shingle_sizes": _shingle_sizes,
        "simhash_fingerprints": _simhash_fps,
        "minhash_signatures": minhash_signatures,
        "lsh_buckets": _bucketed,
        "char_trigrams": _char_trigrams,
        "tfidf_tf": _tfidf_tf_frame,
        "bm25_doclen_df_stats": _bm25_index,
        "langid_trained_profiles": _langid_profiles,
        "textrank_cooccurrence_graph": _textrank_graph,
        "vector_norms": _doubled,
        "kmeans_fixed_point": _centroids_bc,
        "ann_query_set": _query_set_bc,
        "ivf_assignment": _ivf_assigned,
        "int8_quantized_vectors": _quantized,
        "near_dup_cluster_labels": _cluster_labels,
        "file_listing": _file_stats,
        "semdedup_assignment": _semdedup_assigned,
        "jaccard_pairs_capped": ngram_jaccard_pairs_capped,
        "hist_value_agg": _hist_vals,
        "contam_gram_index": _contam_grams,
        "contam_eval_set": _contam_eval_set,
        "dsir_score_table": _dsir_scores,
        "unigram_lp_table": _unigram_lp,
        "bpe_encoded_vocab": _bpe_encodings,
        "bloom_eval_bitmap": _bloom_filter_df,
    }


def build_setup_indexes(spark, ctx, sf_dir: str) -> None:
    """Materialize every shared derived index into ``ctx`` and warm the
    long-lived runtimes (Arrow python workers, Structured Streaming
    execution threads — both persistent on a real cluster).

    The builds OVERLAP (r22, guide §2.6): Spark happily runs several
    jobs at once inside one application — the 28 index builds were only
    sequential because this loop called them sequentially, leaving most
    of the cluster idle through every build's straggler tail. A small
    thread pool submits each builder the moment its ``SETUP_DEPS``
    dependencies finish, so the next build's tasks back-fill executors
    freed by the current build's tail. Job descriptions are thread-local,
    so each build stays correctly labelled in the UI. The pool width is
    a driver-side concurrency knob (``SPARK_GRAFT_SETUP_THREADS``,
    default 8, ``1`` restores the serial build) — it bounds how many
    independent DRIVER submissions are in flight, not task parallelism,
    so it is not tuned to the local core count."""
    builders = setup_builders()
    n_threads = int(os.environ.get("SPARK_GRAFT_SETUP_THREADS", "8"))
    if n_threads <= 1:
        for name, build in builders.items():
            build(ctx)
    else:
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        def _run(name: str, build) -> str:
            spark.sparkContext.setJobDescription(f"setup: {name}")
            try:
                build(ctx)
            finally:
                spark.sparkContext.setJobDescription(None)
            return name

        pending = dict(builders)
        running: dict = {}
        done: set[str] = set()
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            while pending or running:
                ready = [
                    n for n in pending
                    if all(d in done for d in SETUP_DEPS[n])
                ]
                for n in ready:
                    running[pool.submit(_run, n, pending.pop(n))] = n
                if not running:  # pragma: no cover - guarded by the acyclicity pin
                    raise RuntimeError(
                        f"setup builders deadlocked; unrunnable: {sorted(pending)}"
                    )
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    running.pop(f)
                    done.add(f.result())  # re-raises a failed build

    # warm the Arrow python workers (long-lived on a real cluster) so
    # Arrow-path timings measure execution, not process spawn. The
    # engine's batch Python paths all run on worker-REUSING runners
    # (mapInArrow via functions/arrowmap.py, pandas_udf, grouped/cogrouped
    # applyInPandas — all share one worker pool), so importing the heavy
    # libraries here pre-warms the pool every later Arrow task draws from.
    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow as pa

        for b in batches:
            yield pa.record_batch({"n": pa.array([b.num_rows], type=pa.int64())})

    ctx["documents"].select("doc_id").limit(32).repartition(32).mapInArrow(
        _warm, "n long"
    ).count()

    # warm the Structured Streaming runtime the same way (StreamExecution
    # threads, checkpoint manager, streaming codegen paths): run one
    # empty availableNow stream to exhaustion
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from databricks_observe_spark.streaming.state import start_stream, stream_events

    name = f"warm_{uuid.uuid4().hex[:6]}"
    q = start_stream(
        spark,
        stream_events(spark, sf_dir)
        .where(F.lit(False))
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_warm_"))
        .trigger(availableNow=True),
    )
    q.awaitTermination(60)
