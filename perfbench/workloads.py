"""The benchmark's named workloads. Later changes refer to them by name.

Every query listed is registered with a DuckDB oracle, so each run
can check its outputs. The data is the fixed sf0.1 testdata the
engine's tests also read; ``llm_pipeline`` replaces ``documents`` with
a seeded corpus.
"""

from __future__ import annotations

import os

from tests.conftest import SF_SMALL

# sf0.1 sits next to the sf0.001 directory the test suite uses
SF01 = os.path.join(os.path.dirname(SF_SMALL), "sf0.1")

WORKLOADS: dict[str, dict] = {
    # Fixed per-query cost dominates: table loads with schema
    # inference, jobs launched while building, planning, the
    # scheduling floor and, for the two streams, micro-batch state and
    # commit writes; task work is small. sources.tables, registry,
    # Catalyst and streaming changes show here.
    "olap_sf01": {
        "queries": [
            "sum", "take", "partition", "tpch_q3", "tpch_q6", "tpcds_q64",
            "rocksdb_state_agg", "stream_foreach_batch",
        ],
        "corpus": False,
    },
    # Task work dominates: shuffles, 64-lane MinHash hashing and the
    # Python/Arrow workers (corpus_mix), with one table load per query.
    # A fused MinHash kernel shows here; a load or planning fix should
    # not.
    "llm_pipeline": {
        "queries": [
            "dedup_exact", "dedup_minhash_pairs", "text_stats", "chunk_documents",
            "pack_sequences", "corpus_mix",
        ],
        "corpus": True,
    },
}
