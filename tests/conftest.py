from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ser_etl_spark.session import get_spark

    spark = get_spark(
        app_name="ser-etl-spark-tests",
        conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.memory": "4g",
            "spark.ui.enabled": "false",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM


#: Heavyweight suites auto-marked tier2 (VERDICT r11 #7: a documented
#: fast path under ~10 min that still runs every oracle-backed parity
#: check at sf0.001). Selected from the measured r12 duration profile:
#: the sf0.01 parity replay, artifact-lifecycle and streaming suites,
#: the codegen subprocess guard, the adversarial-vector replays and the
#: full scan-budget sweep. `pytest -m "not tier2"` = fast tier; the
#: full suite stays the per-round gate.
_TIER2_PATTERNS = (
    "test_parity_sf_medium",
    "TestIncrementalArtifactCarry",
    "TestAnnIndexMaintenance",
    "TestTrainedQuantizer",
    "TestSnapshotAnnIndex",
    "TestDeltaDedup",
    "test_expanded_vector_stages_compile",
    "test_registry_codegen_compiles_clean",
    "test_edge_vector_parity",
    "test_scan_budget_multiset",
    "test_snapshot_ann_layout_prunes",
    "tests/test_streaming.py",
    "tests/test_empty_corpus.py",
    # redundant-with-tier2 or driver-contract-only gates: the schema
    # canonicalizability sweep re-builds every query (driver-loop
    # builders dominate), the unicode fuzz and the clique corpus
    # re-verify oracles tier1 already checks on the standard corpora
    "test_output_schema_is_driver_canonicalizable",
    "TestHypothesisFuzz",
    "test_identical_corpus_parity",
    "test_nullvec_corpus_parity",
    "test_emptystr_corpus_parity",
    "test_nulltext_corpus_parity",
    "test_merge_sequential_batches_equal_one_merged_batch",
    "test_contamination_spans_match_serial_model",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if any(p in item.nodeid for p in _TIER2_PATTERNS):
            item.add_marker(pytest.mark.tier2)
