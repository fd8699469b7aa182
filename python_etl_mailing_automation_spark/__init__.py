"""PySpark-native analytics engine with the query/data-processing
capabilities of ``AndreBFarias/python-etl-mailing-automation``.

The reference (see SURVEY.md) is a single-process pandas ETL; this package
re-expresses every operator in Spark's lazy DataFrame algebra so Catalyst
plans the execution (predicate pushdown, broadcast joins, whole-stage
codegen, AQE) and the same code scales from ``local[*]`` to a large cluster.

Layout
------
- ``session``     — SparkSession factory with scale-oriented defaults
- ``config``      — INI bridge mirroring the reference's ``config.ini``
- ``schema``      — required-column validation (schema_validator.py parity)
- ``stage``       — per-stage row-count instrumentation (process report)
- ``functions/``  — scalar column expressions (cleaning, dates, money, flags)
- ``operators/``  — relational operators (filters, dedup, aggregates and
                    event-time windows/sessions, joins incl. as-of,
                    interval and attribution, ordering, pivot, sets,
                    phones)
- ``pipeline/``   — the composed end-to-end mailing pipeline + audit
- ``sources/``    — discovery, Excel shim, exact-filename CSV sinks, state
- ``datapipe/``   — beyond-reference large-scale ops (dedup families,
                    similarity search, text analysis, multimodal columns)
"""

__version__ = "0.1.0"
