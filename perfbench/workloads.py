"""The benchmark's workloads and the layer each op is attributed to."""

from __future__ import annotations

from dataclasses import dataclass

# non-query ops: the scheduled observe tick and one completion-sensor tick
OBSERVE_CYCLE = "observe_cycle"
SENSOR_TICK = "sensor_tick"
# queries whose oracle counts check what observe_cycle returns
OBSERVE_CYCLE_CHECKS = ("asset_specs", "topo_levels", "table_profiles")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    warm_passes: int  # fewest warm passes a run makes
    sensor_tick: bool = False  # one transition_log_stream restart per pass
    # the traced run times one jobs.observe_cycle tick after its traced pass
    observe_cycle: bool = False
    # the traced run builds the shared indexes (build_setup_indexes, then
    # one builder at a time) before its passes
    indexes: bool = False

    @property
    def ops(self) -> list[str]:
        """The ops of one pass."""
        return list(self.queries) + [SENSOR_TICK] * self.sensor_tick

    @property
    def checked_queries(self) -> list[str]:
        """Every query whose oracle row count the output checks need."""
        checks = OBSERVE_CYCLE_CHECKS if self.observe_cycle else ()
        return list(dict.fromkeys(self.queries + checks))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "observe_tick",
            (
                # one cheap query of each layer the observer's loop touches:
                # catalog, lineage, runs, layout, and the observed
                # workspace's own jobs (the relational core over lineitem,
                # one event window and the us_customers asset). Most of the
                # pass is the sensor tick
                "compaction_plan", "asset_specs", "first_completed", "zorder_key",
                "pricing_summary", "tumbling_hourly", "flagship_us_customers",
            ),
            warm_passes=2,
            sensor_tick=True,
            # about 15 s cold and 9 s warm on a shared 4-core host: too slow
            # to repeat in every run's passes (README.md)
            observe_cycle=True,
        ),
        Workload(
            "curate_corpus",
            (
                # one query of each curation layer; embedding_near_dup,
                # ann_lsh_topk and media_features run Arrow Python workers.
                # Their indexes are built by the cold pass that first needs
                # them (the engine's per-session memos)
                "embedding_near_dup", "ann_lsh_topk", "tfidf_keywords",
                "media_features",
            ),
            warm_passes=3,
            indexes=True,
        ),
    )
}

# operator modules, each a layer with the same six per-op metrics
OPERATOR_LAYERS = (
    "catalog_ops", "lineage", "runs", "layout", "jobs",
    "relational", "events", "flagship",
    "dedup", "similarity", "text", "multimodal",
)
ARROW_LAYERS = ("dedup", "similarity", "text", "multimodal")
OP_METRICS = (
    ("construct_s", "s"), ("action_s", "s"), ("spark_jobs", "count"),
    ("tasks", "count"), ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes"),
)
ARROW_METRICS = (("python_start_s", "s"), ("python_run_s", "s"))
OTHER_METRICS = (
    ("setup_phase.wall_s", "s"), ("setup_phase.serial_sum_s", "s"),
    ("setup_phase.critical_path_s", "s"), ("setup_phase.spark_jobs", "count"),
    ("setup_phase.executor_cpu_s", "s"), ("setup_phase.shuffle_bytes", "bytes"),
    ("setup_phase.python_start_s", "s"), ("setup_phase.doc_tokens_s", "s"),
    ("setup_phase.tfidf_tf_s", "s"),
    ("streaming.restart_s", "s"), ("streaming.batches_per_tick", "count"),
    ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_commit_s", "s"),
    ("streaming.checkpoint_bytes", "bytes"),
    ("sinks.bytes_per_input_byte", "ratio"), ("sinks.files_written", "count"),
    ("sources.prepare_s", "s"), ("sources.spark_jobs", "count"),
    ("session.start_s", "s"), ("session.job_floor_ms", "ms"),
    ("total.spark_jobs", "count"), ("total.tasks", "count"),
    ("trace.overhead_frac", "fraction"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {}
    for layer in OPERATOR_LAYERS:
        metrics = OP_METRICS + (ARROW_METRICS if layer in ARROW_LAYERS else ())
        for m, unit in metrics:
            units[f"{layer}.{m}"] = unit
    units.update(OTHER_METRICS)
    return units


def layer_of(op: str) -> str:
    """The operator module an op's registry entry lives in."""
    if op == OBSERVE_CYCLE:
        return "jobs"
    if op == SENSOR_TICK:
        return "streaming"
    from databricks_observe_spark.registry import _REGISTRY

    return _REGISTRY[op][0].__module__.rsplit(".", 1)[-1]
