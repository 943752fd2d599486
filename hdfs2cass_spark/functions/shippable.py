"""Ship UDF-referenced modules by value.

Functions created inside factories (the wire encoders of sinks/wire.py)
pickle as closures, but their globals that live in THIS package pickle **by reference**
— executors then try `import hdfs2cass_spark` and fail unless the package is
on every worker's PYTHONPATH. The driver gate (and any real cluster without
--py-files) hits exactly that.

`register_pickle_by_value` makes cloudpickle embed those modules' code in the
pickle itself, so the UDFs run on workers that have never heard of this
package. Called lazily by each UDF factory; safe to call repeatedly.
"""

from __future__ import annotations


def pickle_by_value(*modules) -> None:
    try:
        from pyspark import cloudpickle  # the serializer Spark actually uses
    except ImportError:  # pragma: no cover
        import cloudpickle  # type: ignore
    for m in modules:
        try:
            cloudpickle.register_pickle_by_value(m)
        except Exception:
            pass  # older cloudpickle: fall back to reference semantics
