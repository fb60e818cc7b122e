"""CLI — the reference's interactive run loop as a Spark job.

The reference prompts for (bucket, folder, replace) and then walks the
object list SEQUENTIALLY: download → sampled validate → repair →
re-validate → conditional re-upload, aborting the run on the first
hard error (`/root/reference/src/services/repair-avro.ts:52-104`).
This CLI keeps that UX contract — point it at a tree of Avro files,
optionally write repairs back — but executes as ONE distributed job:
every file is an independent task, a corrupt file is a report row
instead of a crashed run, and `--replace` commits each repaired file
atomically (write-to-.tmp + rename, the engine-side analog of the
reference's delete+swap at :152-153).

    python -m s3_avro_repair_spark.cli --path /data/avro-tree \\
        [--replace] [--out /data/repaired] [--cpus 8]

Exit code: 0 if every file is healthy or repaired, 2 if any file is
unrepairable (header destroyed) — the run itself never aborts.
"""

from __future__ import annotations

import argparse
import os
import sys

import pandas as pd
from pyspark.sql import functions as F

# Display bound for the non-healthy detail table: a CLI prints a page,
# not a fleet. The per-status counters always cover the full listing.
_DETAIL_ROWS = 1000


def _build_report(spark, path: str, replace: bool, out_dir: str | None):
    from . import fsio
    from .avro_codec import salvage_ocf, write_ocf_bytes
    from .sources.avro_pipeline import _binary_files

    # Normalized scan root, for composing --out targets that PRESERVE
    # the path relative to --path (a flat basename layout silently
    # collapses same-named files from different subdirectories).
    _, root = fsio.resolve(os.path.abspath(path) if "://" not in path else path)

    files = _binary_files(spark, path)
    # The scan's own file listing (metadata, no job): count() would
    # run a job that reads every file once more before the repair does.
    n_files = len(files.inputFiles())
    if n_files == 0:
        return None, 0
    files = files.repartition(min(n_files, 256), "path")

    def process(batches):
        import posixpath

        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                fs_, local = fsio.resolve(fpath)
                res = salvage_ocf(bytes(content))
                if res.healthy:
                    status, written = "healthy", ""
                elif not res.header_ok:
                    status, written = "unrepairable", ""
                else:
                    status = "repaired"
                    written = ""
                    if replace or out_dir:
                        repaired = write_ocf_bytes(res.schema, res.records)
                        if replace:
                            # Write back over the original via ITS OWN
                            # filesystem (the reference's re-upload).
                            written = fsio.atomic_write_bytes(
                                local, repaired, filesystem=fs_
                            )
                        else:
                            rel = posixpath.relpath(local, root)
                            target = fsio.join(out_dir, rel)
                            out_fs, out_path = fsio.resolve(target)
                            parent = posixpath.dirname(out_path)
                            if parent:
                                out_fs.create_dir(parent, recursive=True)
                            written = fsio.atomic_write_bytes(
                                out_path, repaired, filesystem=out_fs
                            )
                rows.append(
                    {
                        "file": os.path.basename(local),
                        "status": status,
                        "blocks_ok": res.n_blocks_ok,
                        "blocks_resynced": res.n_blocks_resynced,
                        "blocks_lost": res.n_blocks_bad,
                        "records_salvaged": len(res.records),
                        "written_to": written,
                    }
                )
            yield pd.DataFrame(rows)

    report = files.select("path", "content").mapInPandas(
        process,
        schema=(
            "file string, status string, blocks_ok long, blocks_resynced long,"
            " blocks_lost long, records_salvaged long, written_to string"
        ),
    )
    return report, n_files


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s3_avro_repair_spark",
        description="Validate / repair a tree of Avro container files as a Spark job.",
    )
    ap.add_argument("--path", required=True, help="directory (searched recursively) of .avro files")
    ap.add_argument(
        "--replace",
        action="store_true",
        help="write repaired files back over the originals (reference's replace=true)",
    )
    ap.add_argument("--out", default=None, help="write repaired copies here instead of in place")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args(argv)

    if args.out:
        from . import fsio

        fsio.ensure_dir(args.out)

    from .session import get_session

    spark = get_session("avro-repair-cli", master=f"local[{args.cpus}]")
    report, n_files = _build_report(spark, args.path, args.replace, args.out)
    if report is None:
        print(f"no .avro files under {args.path}", file=sys.stderr)
        return 1
    # Aggregate counts on the EXECUTORS; only the non-healthy detail
    # rows (bounded display slice) reach the driver — a million-file
    # fleet must not be collected to print three counters (r7 note).
    # Persist first: the pipeline REPAIRS files as a side effect, and
    # the counts + detail actions must not run it twice.
    # MEMORY_AND_DISK, not the MEMORY_ONLY default: an evicted
    # partition would be RECOMPUTED by the second action, re-running
    # the repair side effect (ADVICE r9). Disk backing makes the
    # guarantee EVICTION-proof, not failure-proof: both replicas live
    # on executor-local disk, so losing the executor between the two
    # actions still recomputes (ADVICE r10). For hard exactly-once,
    # write the report to a temp parquet and read it back for both
    # actions — accepted trade here: a lost executor in a CLI session
    # is rare and the recompute is visible, not silent.
    from pyspark import StorageLevel

    report = report.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {
        r["status"]: r["n"]
        for r in report.groupBy("status").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    detail = (
        report.filter(F.col("status") != "healthy")
        .sort("file")
        .limit(_DETAIL_ROWS)
        .toPandas()
    )
    report.unpersist()
    if len(detail):
        with pd.option_context("display.max_rows", None, "display.width", 200):
            print(detail.to_string(index=False))
        shown_bad = len(detail)
        n_bad = n_files - counts.get("healthy", 0)
        if n_bad > shown_bad:
            print(f"... ({n_bad - shown_bad} more non-healthy files)")
    print(
        f"\n{n_files} files: "
        + ", ".join(f"{counts.get(s, 0)} {s}" for s in ("healthy", "repaired", "unrepairable"))
    )
    return 2 if counts.get("unrepairable", 0) else 0


if __name__ == "__main__":
    raise SystemExit(main())
