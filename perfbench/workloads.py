"""The benchmark's workloads: which ops each runs, and the bundled inputs."""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
#: the repository's fixed sf0.1 tables (seed 42), bundled read-only
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
#: the bundled tables: those the workloads and their oracles read
TABLES = "nation customer orders lineitem embeddings".split()

#: registry workloads: op name → registry keys, one op per key
REGISTRY_WORKLOADS: dict[str, list[str]] = {
    "registry_queries": [
        # the reference's jobs and short join/agg plans
        "flagship", "vdt1_replica", "tpch_q1", "tpch_q6", "join_broadcast",
        # an LLM-pipeline operator: PQ training plus a search over a
        # persisted projection
        "sim_topk_pq",
    ],
}
WORKLOADS = [*REGISTRY_WORKLOADS, "lake_session"]
