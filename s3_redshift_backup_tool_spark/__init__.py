"""PySpark-native rebuild of the capabilities of qiuni-cdc/s3-redshift-backup-tool.

The reference (read-only at /root/reference) is a MySQL -> S3 (Parquet) ->
Redshift incremental CDC/ELT pipeline written as row-at-a-time Python. This
package re-expresses every data-touching capability as idiomatic Spark:

- ``state``              watermark v2.0 store: cursor, counters, locks
                         (reference: src/core/simple_watermark_manager.py)
- ``schema``             MySQL->Spark type mapping, DDL emitter, schema diff
                         (reference: src/core/flexible_schema_manager.py)
- ``operators.cdc``      the 5 CDC strategies as DataFrame predicate builders
                         (reference: src/core/cdc_strategy_engine.py)
- ``operators.align``    schema-alignment projection + cast suite
                         (reference: src/core/s3_manager.py:705-845)
- ``operators.manifest`` the parquet loaded-file manifest (the reference's
                         processed_files blacklist) and its anti-join
                         (reference: src/core/gemini_redshift_loader.py:499-527)
- ``operators.quality``  one-pass data-quality aggregates
                         (reference: src/utils/validation.py)
- ``plans.sync``         the linear sync plan: read -> cdc filter -> align ->
                         partitioned write -> commit state -> load -> verify
                         (reference: src/backup/row_based.py + gemini loader)
- ``operators.dedup``, ``operators.similarity``, ``operators.text``,
  ``operators.multimodal``, ``operators.skew``: LLM-training-data
  pipeline extensions (north star in BASELINE.json), designed shuffle-aware
  for 100 TB scale.
- ``functions``          the scalar/column function library (re-exports)
- ``streaming``          availableNow incremental sync, event-time windows,
                         applyInPandasWithState operators
- ``cli``                sync / watermark / s3clean operational verbs

Nothing here needs a custom Catalyst rule: filters/casts/anti-joins/windows
are stock DataFrame API and Catalyst does pushdown + pruning. The "engine"
is the driver-side state machine + config-driven plan construction.
"""

__version__ = "0.1.0"
