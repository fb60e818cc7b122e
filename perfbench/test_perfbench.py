"""Tests of the benchmark itself: seeded inputs and the output checks.

    python -m pytest perfbench -q

No Spark session is started: the checks are fed planted answers.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from s3_avro_repair_spark import avro_codec  # noqa: E402


@pytest.fixture(scope="module")
def fleets(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fleets"))
    return {
        "a": inputs.fleet(os.path.join(root, "a"), 7),
        "a_again": inputs.fleet(os.path.join(root, "b"), 7),
        "other": inputs.fleet(os.path.join(root, "c"), 8),
    }


def test_same_seed_same_fleet_and_manifest(fleets):
    assert inputs.tree_digest(fleets["a"]) == inputs.tree_digest(fleets["a_again"])


def test_other_seed_other_fleet(fleets):
    assert inputs.tree_digest(fleets["a"]) != inputs.tree_digest(fleets["other"])
    assert inputs.load_manifest(fleets["a"]) != inputs.load_manifest(fleets["other"])


def test_tables_deterministic_per_seed(tmp_path):
    a = inputs.tables(str(tmp_path / "a"), 3)
    b = inputs.tables(str(tmp_path / "b"), 3)
    c = inputs.tables(str(tmp_path / "c"), 4)
    assert inputs.tree_digest(a) == inputs.tree_digest(b)
    assert inputs.tree_digest(a) != inputs.tree_digest(c)


def test_fleet_layout(fleets):
    m = inputs.load_manifest(fleets["a"])
    assert len(m) == inputs.FLEET_FILES
    assert {e["codec"] for e in m} == set(inputs.CODECS)
    assert sorted(e["damage"] for e in m if e["damage"]) == sorted(inputs.DAMAGE)
    tail = [e for e in m if e["tail"]]
    rest = sorted(e["records"] for e in m if not e["tail"])
    assert len(tail) == 1 and tail[0]["records"] >= 10 * rest[len(rest) // 2]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_manifest_matches_damage_model(tmp_path, seed):
    """The manifest is derived from the damage class alone; the codec's
    salvage must land on the same outcome for every generated file."""
    fleet = inputs.fleet(str(tmp_path), seed)
    for e in inputs.load_manifest(fleet):
        with open(os.path.join(fleet, "avro", e["file"]), "rb") as f:
            res = avro_codec.salvage_ocf(f.read())
        status = ("healthy" if res.healthy
                  else "repaired" if res.header_ok else "unrepairable")
        got = {"status": status, "records_salvaged": len(res.records),
               "blocks_lost": res.n_blocks_bad}
        assert got == {k: e[k] for k in got}, e["file"]


# ---------------------------------------------------------------------------
# checks reject planted wrong answers


def _report(manifest) -> str:
    """The CLI's stdout for a run that matches ``manifest`` exactly."""
    lines = ["         file  status  blocks_ok  blocks_resynced  blocks_lost  records_salvaged  written_to"]
    counts = {"healthy": 0, "repaired": 0, "unrepairable": 0}
    for e in manifest:
        counts[e["status"]] += 1
        if e["status"] != "healthy":
            lines.append(f"{e['file']} {e['status']} 1 0 {e['blocks_lost']} "
                         f"{e['records_salvaged']} /out/{e['file']}")
    lines.append(f"\n{len(manifest)} files: " + ", ".join(
        f"{counts[s]} {s}" for s in ("healthy", "repaired", "unrepairable")))
    return "\n".join(lines)


@pytest.fixture()
def repair(tmp_path, fleets):
    ctx = types.SimpleNamespace(pkg=types.SimpleNamespace(avro_codec=avro_codec))
    wl = workloads.RepairPart(ctx)
    wl.manifest = inputs.load_manifest(fleets["a"])
    wl.out = str(tmp_path)
    for e in wl.manifest:
        if e["status"] == "repaired":
            recs = inputs.fleet_records(7, 0, e["records_salvaged"])
            with open(os.path.join(wl.out, e["file"]), "wb") as f:
                f.write(avro_codec.write_ocf_bytes(inputs.FLEET_SCHEMA, recs))
    return wl


def test_repair_check_accepts_right_answer(repair):
    repair.check({"report": _report(repair.manifest), "rc": 2})
    assert repair.failed == 0 and repair.attempted > len(repair.manifest)


def test_repair_check_rejects_flipped_status(repair):
    text = _report(repair.manifest)
    victim = next(e for e in repair.manifest if e["status"] == "healthy")
    victim["status"] = "repaired"
    repair.check({"report": text, "rc": 2})
    assert repair.failed > 0


def test_repair_check_rejects_wrong_salvage_count(repair):
    e = next(e for e in repair.manifest if e["damage"] == "truncate")
    e["records_salvaged"] += 1
    repair.check({"report": _report(repair.manifest), "rc": 2})
    assert repair.failed > 0  # the output re-reads to the old count


def test_repair_check_rejects_short_output(repair):
    e = next(e for e in repair.manifest if e["status"] == "repaired")
    with open(os.path.join(repair.out, e["file"]), "wb") as f:
        f.write(avro_codec.write_ocf_bytes(inputs.FLEET_SCHEMA, []))
    repair.check({"report": _report(repair.manifest), "rc": 2})
    assert repair.failed == 1


def test_repair_check_rejects_exit_code(repair):
    repair.check({"report": _report(repair.manifest), "rc": 0})
    assert repair.failed == 1


def test_roundtrip_check(tmp_path):
    path = inputs.tables(str(tmp_path), 5)
    expected = workloads.expected_aggregates(os.path.join(path, "lineitem.parquet"))
    fields = ("n", "sum_orderkey", "sum_linenumber", "sum_qty", "sum_price_cents",
              "sum_disc_pct", "max_tax", "min_status")
    rows = [{"l_returnflag": flag, **dict(zip(fields, vals))} for flag, vals in expected.items()]
    wl = workloads.RoundtripPart(types.SimpleNamespace(nproc=2))
    wl.expected = expected
    wl.check({"rows": rows, "files": ["a", "b"]})
    assert wl.failed == 0
    rows[0]["sum_price_cents"] += 1
    wl.check({"rows": rows, "files": ["a", "b"]})
    assert wl.failed == 1


def test_query_check():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, None, 2.5]})
    wrong = want.copy()
    wrong.loc[2, "v"] = 2.5000000000000004
    wl = workloads.QueryMix(None)
    wl.want = {"agg_groupby": want}
    for got in (want.iloc[::-1], wrong, want.iloc[:2], want.rename(columns={"v": "w"})):
        wl.check({"results": {"agg_groupby": got}})
    assert wl.failed == 3


def test_merge_counters_empty():
    merged = workloads.merge_counters([])
    assert merged["stages"] == [] and merged["task_skew"] == 0.0
    assert all(merged[k] == 0 for k in spans.SUMMED)


def test_self_times():
    t = spans.Tracer(True)
    t.spans = [
        {"id": 0, "parent": None, "name": "op:a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "operators:construct", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "execute", "start": 5.0, "end": 9.0},
        {"id": 3, "parent": 2, "name": "stages:job", "start": 5.5, "end": 7.0},
        {"id": 4, "parent": 2, "name": "stages:job", "start": 6.5, "end": 8.0},
    ]
    st = spans.self_times(t.spans)
    assert st == {"op:a": 3.0, "operators:construct": 3.0, "execute": 1.5, "stages:job": 3.0}
    assert spans.layer_of("tables:table:agg_groupby") == "tables"
