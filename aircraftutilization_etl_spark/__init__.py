"""PySpark-native analytics engine with the capabilities of
Kelvedler/AircraftUtilization-ETL.

The reference is an Airflow-orchestrated, pandas-executed micro-batch ETL
tracking aircraft flight sessions (see SURVEY.md). This package re-expresses
every operator Spark-first:

- ``schemas``    — explicit StructType registry (reference: NamedTuple column
                   registries, src/plugins/common/constants.py).
- ``errors``     — engine exceptions (reference: src/plugins/common/exceptions.py).
- ``sources``    — typed IO: parquet-with-empty-fallback, versioned state
                   commit, REST/CSV ingest, sink facades.
- ``functions``  — pure Column-expression kernels (the reference's
                   apply(axis=1) row kernels as when() chains — zero Python
                   UDFs on the hot path).
- ``operators``  — DataFrame->DataFrame transforms: the flight-session core,
                   plus the scale surface (dedup, similarity, text analysis,
                   sessionization, range joins).
- ``plans``      — the relational query catalog exercised by the correctness
                   harness (__spark_entry__.queries()).
- ``streaming``  — Structured Streaming variant of the flight-session
                   pipeline (applyInPandasWithState, 20-min state TTL).
- ``pipeline``   — batch-incremental drivers mirroring the reference DAGs.
"""

__version__ = "0.1.0"
