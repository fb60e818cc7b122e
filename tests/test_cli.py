"""CLI contract: the reference's run loop (validate -> repair ->
re-validate -> conditional replace) as one distributed job."""

from __future__ import annotations

import os
import shutil

from s3_avro_repair_spark.avro_codec import salvage_ocf
from s3_avro_repair_spark.cli import _build_report
from s3_avro_repair_spark.sources.avro_pipeline import ensure_avro_fixtures


def test_cli_repairs_and_revalidates(spark, sf_dir, tmp_path):
    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    outdir.mkdir()

    report, n_files = _build_report(spark, str(indir), False, str(outdir))
    rows = report.toPandas().set_index("file")
    assert n_files == len(rows) == 8

    statuses = rows["status"].value_counts().to_dict()
    # The corruption fixture injects: truncation, byte flips, a damaged
    # sync marker, and one destroyed header (see ensure_avro_fixtures).
    assert statuses.get("unrepairable", 0) == 1
    assert statuses.get("repaired", 0) >= 2
    assert statuses.get("healthy", 0) >= 1

    # the reference re-validates after repair (repair-avro.ts:148-149):
    # every repaired file must now salvage as fully healthy, keeping
    # exactly the records the report claimed were salvageable.
    for fname, row in rows[rows.status == "repaired"].iterrows():
        data = (outdir / fname).read_bytes()
        res = salvage_ocf(data)
        assert res.healthy, (fname, res.errors)
        assert len(res.records) == row.records_salvaged

    # healthy and unrepairable files are never rewritten
    written = {p.name for p in outdir.iterdir()}
    assert written == set(rows[rows.status == "repaired"].index)


def test_cli_main_prints_bounded_detail(spark, sf_dir, tmp_path, capsys):
    """main(): the detail table shows only NON-healthy rows (bounded
    slice), the counters cover the full listing, and the report
    pipeline — which repairs files as a side effect — is persisted so
    the two display actions don't run it twice."""
    from s3_avro_repair_spark.cli import main

    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    outdir.mkdir()
    rc = main(["--path", str(indir), "--out", str(outdir)])
    outtxt = capsys.readouterr().out
    assert rc == 2  # one destroyed header in the corruption fixture
    assert "8 files:" in outtxt
    assert "unrepairable" in outtxt
    # healthy rows never reach the detail table
    for line in outtxt.splitlines():
        if line.strip().startswith("part-") and " healthy" in line:
            raise AssertionError(f"healthy row in detail: {line}")


def test_cli_counts_from_the_listing_without_a_job(spark, sf_dir, tmp_path, capsys):
    """Building the report runs no Spark job: the file count comes from
    the scan's own listing, so the fleet is read once, by the repair
    stage. An empty tree still exits 1."""
    from s3_avro_repair_spark.cli import main

    root = ensure_avro_fixtures(sf_dir)
    indir = tmp_path / "in"
    shutil.copytree(os.path.join(root, "corrupt"), indir)
    sc = spark.sparkContext
    sc.setJobGroup("cli-listing", "report build only")
    try:
        report, n_files = _build_report(spark, str(indir), False, None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_files == 8
    assert sc.statusTracker().getJobIdsForGroup("cli-listing") == []

    empty = tmp_path / "empty"
    empty.mkdir()
    assert main(["--path", str(empty)]) == 1
    assert "no .avro files" in capsys.readouterr().err
