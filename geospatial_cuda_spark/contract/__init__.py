"""The driver contract's oracle-gate harness around the engine.

- ``fixtures`` — the TPC-H-derived tables, points, queries and images the
  contract queries read, the per-dataset index cache, and every fixture
  constant that both a Spark query and its SQL oracle state.
- ``queries``  — the ``q_*`` Spark bodies, one per contract query.
- ``oracles``  — the DuckDB SQL that re-derives each query's answer.

``entrypoints`` orders the queries and oracles for the driver. Nothing in
the engine (``functions/``, ``operators/``, ``sources/``, ``streaming/``,
``pipeline``) imports this package.
"""
