"""Every metric the benchmark can print, with its unit and direction.

``BENCHMARK.json`` at the repository root lists the same names; the
self-test (``selftest.py``) fails if the two drift apart.

End-to-end metrics are generic across workloads because every run prints
every one of them; what a workload's "operation" and "item" are is fixed in
``workloads.py`` and tabled in ``README.md``.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("work_per_s", "1/s", "higher"),
    ("op_cpu_s", "s", "lower"),
    ("retained_heap_mb", "MB", "lower"),
]

# the 13 committed stages of pipeline.run_pipeline, in run order
PIPELINE_STAGES = [
    "documents", "chunks", "summaries", "extractions", "entity_aliases",
    "triples", "mentions", "nodes", "entity_types", "edges",
    "contains_edges", "edge_type_histogram", "embeddings",
]

# the search mix, largest share first
SEARCH_TYPES = [
    "GRAPH_COMPLETION", "CHUNKS", "SUMMARIES", "RAG_COMPLETION",
    "HYBRID_COMPLETION", "CHUNKS_LEXICAL", "CODE", "TRIPLET_COMPLETION",
]

# operators timed in isolation over the committed upstream tables
OPERATORS = [
    "operators.chunking.s", "operators.extraction.s",
    "operators.linking.aliases_s", "operators.linking.triples_s",
    "operators.materialize.nodes_s", "operators.materialize.edges_s",
    "operators.enrich.summaries_s", "operators.indexing.s",
]

# span layers whose self time the traced run reports
SPAN_LAYERS = [
    "session", "pipeline", "store", "operators", "search", "streaming",
    "checks", "harness",
]


def _per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("session.inputs_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("session.base_build_s", "s", "lower"),
        ("session.peak_rss_mb", "MB", "lower"),
        ("pipeline.content_signature_s", "s", "lower"),
    ]
    out += [(f"store.{s}.wall_s", "s", "lower") for s in PIPELINE_STAGES]
    out += [
        ("store.commits", "count", "lower"),
        ("store.commit_overhead_s", "s", "lower"),
        ("store.reused_stages", "count", "higher"),
        ("store.resume_s", "s", "lower"),
    ]
    out += [(name, "s", "lower") for name in OPERATORS]
    for s in PIPELINE_STAGES:
        out += [
            (f"spark.{s}.cpu_s", "s", "lower"),
            (f"spark.{s}.shuffle_write_mb", "MB", "lower"),
            (f"spark.{s}.jobs", "count", "lower"),
        ]
    out += [
        ("spark.build.cpu_s", "s", "lower"),
        ("spark.build.gc_s", "s", "lower"),
        ("spark.build.spill_mb", "MB", "lower"),
        ("spark.build.shuffle_write_mb", "MB", "lower"),
        ("spark.build.jobs", "count", "lower"),
        ("spark.build.tasks", "count", "lower"),
    ]
    for t in SEARCH_TYPES:
        out += [
            (f"search.{t}.p50_ms", "ms", "lower"),
            (f"search.{t}.jobs", "count", "lower"),
        ]
    out += [
        ("search.p50_ms", "ms", "lower"),
        ("search.p90_ms", "ms", "lower"),
        ("search.plan_ms", "ms", "lower"),
        ("operators.retrieval.graph_completion_context_ms", "ms", "lower"),
        ("operators.retrieval.lexical_topk_ms", "ms", "lower"),
        ("operators.similarity_search.brute_force_topk_ms", "ms", "lower"),
        ("streaming.batches", "count", "lower"),
        ("streaming.state_rows_updated", "count", "lower"),
        ("streaming.add_batch_s", "s", "lower"),
        ("streaming.state_commit_ms", "ms", "lower"),
        ("streaming.query_planning_ms", "ms", "lower"),
        ("spark.stream.cpu_s", "s", "lower"),
        ("spark.stream.gc_s", "s", "lower"),
    ]
    out += [(f"self.{layer}_s", "s", "lower") for layer in SPAN_LAYERS]
    out += [
        ("trace.op_p50_ms", "ms", "lower"),
        ("trace.overhead_share", "share", "lower"),
    ]
    return out


PER_LAYER = _per_layer()

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
