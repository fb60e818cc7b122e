"""s3_avro_repair_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference pipeline ``pauloeli/S3-Avro-Repair`` (an Avro
validate/repair/rewrite tool, see ``/root/reference/src/services/repair-avro.ts``)
plus the full relational / streaming / LLM-data-pipeline operator
surface described in ``SURVEY.md §2B``.

Design principles (100 TB posture):
- Declare logical plans with the DataFrame/SQL API; let Catalyst pick
  physical strategies (pushdown, pruning, join selection, AQE).
- One Spark task per file for the Avro pipeline ops — never buffer
  whole datasets on the driver (the reference buffers every file in
  RAM and processes them strictly sequentially,
  ``repair-avro.ts:52-71``; we invert that).
- Python only at Arrow-vectorized boundaries (``pandas_udf``,
  ``mapInPandas``); never row-at-a-time UDFs in hot paths.
- Per-file/per-record failure isolation with report rows, never
  abort-the-run (contrast the reference's single try/catch abort,
  ``repair-avro.ts:72-74``).
"""

import sys

__version__ = "0.1.0"


def _gate_zipimport_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk (Python < 3.12).

    PySpark calls ``importlib.invalidate_caches()`` before every Python
    task. On 3.11 each zipimporter then eagerly re-reads its archive's
    whole central directory, and a worker importing pyspark from
    ``pyspark.zip`` holds a dozen or more importers on it: 0.2-0.3 s of
    CPU per task, more than most tasks' real work. CPython made the
    invalidation lazy in 3.12 (gh-103200); this keeps 3.11's semantics
    (a rewritten archive is re-read) at the cost of one ``stat``.
    Every executor-side code path imports this package, so the gate is
    live in every worker that runs engine code. Idempotent."""
    import os
    import zipimport

    if getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False):
        return
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    # archive path -> (mtime_ns, size, inode) when its directory was read
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def signature(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def _read_directory(archive):
        read_at[archive] = signature(archive)  # before: a racing rewrite re-reads
        return read_directory(archive)

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        sig = signature(self.archive)
        if files is None or sig is None or read_at.get(self.archive) != sig:
            invalidate(self)
        else:
            self._files = files

    invalidate_caches.stat_gated = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _gate_zipimport_invalidation()
