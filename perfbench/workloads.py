"""The benchmark's named workloads: fixed lists of ``__spark_entry__.queries()``
keys, each run as one closed-loop pass (one client; every job starts when the
previous one returns).

Every list is a fixed subset of the key set its workload stands for, sized so
that a warm pass takes a few seconds on 4 cores and one run fits the
benchmark's time budget. A run is dominated by set-up (a JVM start and a cold
pass of 10 to 25 s), so BENCHMARK.json gates two workloads, ``stream_drain``
and ``llm_curation``, and ``llm_curation`` also writes and reads back its
documents through the Iceberg sink and source, so that the connector layer is
measured by a gated run. ``batch_sql`` and ``connector_roundtrip`` are run by
hand or with ``--workload all``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    why: str
    # set-up passes before measurement: the JVM keeps compiling hot code for
    # several passes, longer for plans with large generated code
    warmup_passes: int = 1
    # about how long a warm pass takes on 4 cores: a run measures one pass
    # per this many seconds of --seconds
    nominal_pass_s: float = 4.0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_sql",
            (
                "q1_pricing",
                "q5_supplier",
                "agg_basic",
                "win_session",
                "asof_join",
                "rollup_sales",
            ),
            "TPC-H and event batch SQL: driver-side plan building, Catalyst and "
            "the JVM; bypasses the Python boundary, the state store and the caches",
        ),
        Workload(
            "stream_drain",
            ("stream_win_tumbling_append",),
            "bounded availableNow drain over file splits in append mode: "
            "micro-batch engine, state-store commit and the empty "
            "watermark-flush batch",
        ),
        Workload(
            "llm_curation",
            ("docs_minhash_lsh", "emb_knn_join", "iceberg_roundtrip"),
            "document and embedding curation: Python worker boundary, the "
            "module-level llm caches shared within a pass, shuffle rounds, "
            "and the documents through the Iceberg sink and source",
        ),
        Workload(
            "connector_roundtrip",
            (
                "kafka_roundtrip",
                "jdbc_roundtrip",
                "iceberg_roundtrip",
            ),
            "write-then-read through sinks, sources, serde and iceberg against "
            "the in-process loopback brokers",
        ),
    )
}

# Connector family of each key, for the per-family wall time.
CONNECTOR_FAMILIES = {
    "kafka": ("kafka_", "stream_kafka_"),
    "iceberg": ("iceberg_", "stream_curation_to_iceberg"),
    "jdbc": ("jdbc_",),
    "avro": ("avro_",),
    "queue": ("rabbitmq_", "stream_rabbitmq_"),
}


def connector_family(key: str) -> str | None:
    for family, prefixes in CONNECTOR_FAMILIES.items():
        if key.startswith(prefixes):
            return family
    return None


# Keys without a DuckDB oracle are checked by row count and column set. A
# seeded input is a row permutation of the same base tables, so these hold
# for every seed.
ROWS_ONLY = {
    "emb_knn_join": (100, ("cosine", "q_vec_id", "rk", "vec_id")),
}
