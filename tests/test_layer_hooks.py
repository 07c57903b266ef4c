"""The benchmark's layer spans (perfbench/ledger.py) wrap engine functions by
module attribute. A refactor that renames one, or stops calling it through
the module global the span patches, breaks the traced benchmark; these
checks catch that without a Spark session."""

import importlib
import importlib.util
import os

LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "ledger.py"
)


def test_every_ledger_target_resolves():
    spec = importlib.util.spec_from_file_location("perfbench_ledger", LEDGER)
    ledger = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ledger)
    for targets in ledger.TARGETS.values():
        for module, attr, _layer, _eager in targets:
            assert callable(getattr(importlib.import_module(module), attr, None)), (
                module,
                attr,
            )


def test_pipeline_tail_calls_the_patched_globals():
    from logai_spark import pipeline

    assert "mine_templates" in pipeline.run_pipeline.__code__.co_names
    names = set(pipeline.parse_route_aggregate.__code__.co_names)
    assert {"route_to_sinks", "counter_vector", "verify_routed_write"} <= names


def test_curation_calls_the_patched_globals():
    from logai_spark import curate

    names = set(curate.run_curation.__code__.co_names)
    assert {"exact_dedup", "repetition_stats"} <= names
    finish = set(curate._finish_curation.__code__.co_names)
    assert {"pii_redact", "pack_sequences"} <= finish
    # patched in their own modules: imported inside run_curation at call
    # time, never bound as curate globals a patch would miss
    assert {"quality_score", "dup_clusters"} <= names
    assert not hasattr(curate, "quality_score") and not hasattr(curate, "dup_clusters")


def test_webgraph_job_calls_the_patched_globals():
    from logai_spark.plans import webgraph_job

    names = set(webgraph_job.run_webgraph_job.__code__.co_names)
    assert {"link_edges", "domain_pagerank", "hyperball_harmonic", "anchor_text"} <= names
