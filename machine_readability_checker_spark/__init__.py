"""machine_readability_checker_spark — a from-scratch PySpark-native
re-implementation of the capabilities of ``hrkzz/machine-readability-checker``.

The reference is a single-process pandas/Streamlit analyzer of tabular
documents (CSV / XLSX / XLS): it partitions every sheet into ordered
structural zones (upper annotations, header rows, data body, lower
annotations — ``src/processor/loader.py:19-143``), runs a declarative rule
catalog of machine-readability checks over the parsed grid and the workbook
side-channel (``rules/level1.json``, ``src/checker/level1_checker.py``), and
summarizes pass/fail per level (``src/processor/summary.py``).

This package re-expresses all of that Spark-first:

- the corpus is a DataFrame of documents, either raw bytes
  ``(doc_id, fmt, content, n_bytes)`` or already-extracted span arrays
  ``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)``;
- all per-document parsing/extraction runs inside vectorized Arrow-batched
  kernels (``mapInPandas`` — no per-row Python UDFs, no shuffle);
- everything relational (rule summaries, dedup, similarity, text stats)
  is plain DataFrame/Catalyst code so pushdown/pruning/AQE apply;
- the single-node pandas core doubles as the correctness oracle: the Spark
  kernel imports the exact same functions the tests call directly, so
  span-sequence equality is checked against one shared implementation.
"""

__version__ = "0.1.0"

# Every Python worker that runs a kernel imports this package first (the
# kernel's pickle references it), which makes this the one place to fix the
# worker's per-task import-cache cost for all mapInPandas/pandas_udf code.
from .zipimport_lazy import install as _install_lazy_zip_invalidation

_install_lazy_zip_invalidation()
