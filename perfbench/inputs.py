"""Seeded benchmark inputs, generated outside every timer and cached per seed.

Two input sets, each a pure function of the seed:

* ``tables(root, seed)``: TPC-H-shaped parquet tables (plus the
  ``documents`` corpus) in the layout ``tables.table()`` reads.
* ``fleet(root, seed)``: a tree of Avro container files written with
  ``avro_codec.write_ocf``, about one file in eight damaged with the four
  ``avro_pipeline.inject_*`` classes, and a ``manifest.json`` holding each
  file's expected status, salvaged record count and lost block count.

The manifest is derived from the damage class and the block layout the
generator wrote, never from ``salvage_ocf``: a check computed by the code
under test would agree with it by construction.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table scale: lineitem has 6,000,000 * SF rows. Sized so one pass of
# the avro_fleet round trip or of query_mix takes a few seconds on 4 cores.
SF = 0.01

FLEET_FILES = 32
FLEET_RECORDS = 100_000  # total over the fleet, fixed so seeds cost alike
FLEET_BLOCK_RECORDS = 500
FLEET_MIN_RECORDS = 3 * FLEET_BLOCK_RECORDS  # every file has >= 3 blocks
TAIL_FACTOR = 12  # the tail file is this many times the median file
CODECS = ("null", "deflate", "snappy")
DAMAGE = ("truncate", "flip", "bad_sync", "bad_header")
N_DAMAGED = 4  # FLEET_FILES / 8, one file per damage class

FLEET_SCHEMA = {
    "type": "record",
    "name": "event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts_us", "type": "long"},
        {"name": "user", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "body", "type": "string"},
    ],
}

_WORDS = (
    "avro block codec sync marker schema record field union fleet bucket "
    "object repair salvage header deflate snappy spark task stage shuffle "
    "window join scan write read partition split commit rename storage"
).split()

# Bump when generation changes, so a cached tree is never reused silently.
_VERSION = "v4"


def _cache_dir(root: str, kind: str, seed: int) -> str:
    return os.path.join(root, f"{kind}-{_VERSION}-s{seed}")


def _cached(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _text(rng, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The fixture tables the query_mix ops read, as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_li = int(6_000_000 * SF)
    n_doc = int(50_000 * SF)
    n_part = int(200_000 * SF)
    i32 = pa.int32()

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _timestamps(rng, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _timestamps(rng, "1995-01-02", "2001-11-05", n_li),
    })
    texts = [_text(rng, int(k)) for k in rng.integers(8, 80, n_doc)]
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
        "documents": documents,
    }


def tables(root: str, seed: int) -> str:
    """Directory of ``<name>.parquet`` files for ``seed`` (cached)."""
    path = _cache_dir(root, f"tables-sf{SF}", seed)
    if _cached(path):
        return path
    _fresh(path)
    for name, tbl in make_tables(seed).items():
        # one row group, like the fixtures the ops were written against
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"),
                       row_group_size=1 << 30)
    _finish(path)
    return path


def fleet_plan(seed: int) -> list[dict]:
    """Per-file layout: name, codec, record count, damage class.

    Record counts are log-normal, normalized to FLEET_RECORDS, with one
    tail file TAIL_FACTOR times the median, so every seed does the same
    amount of work but lays it out differently."""
    rng = np.random.default_rng([seed, 2])
    weights = rng.lognormal(0.0, 0.6, FLEET_FILES)
    tail = int(rng.integers(0, FLEET_FILES))
    weights[tail] = TAIL_FACTOR * float(np.median(np.delete(weights, tail)))
    counts = np.maximum(
        (weights / weights.sum() * FLEET_RECORDS).astype(int), FLEET_MIN_RECORDS
    )
    # Codecs dealt round-robin down the size order, so each codec carries
    # a similar share of the records (and the fleet's byte size barely
    # moves between seeds); the tail file is always uncompressed.
    codecs = [""] * FLEET_FILES
    for k, i in enumerate(np.argsort(-counts, kind="stable")):
        codecs[i] = CODECS[k % len(CODECS)]
    others = [i for i in rng.permutation(FLEET_FILES) if i != tail]
    damage = {int(i): DAMAGE[k % len(DAMAGE)] for k, i in enumerate(others[:N_DAMAGED])}
    return [
        {
            "file": f"part-{i:03d}.avro",
            "codec": codecs[i],
            "records": int(counts[i]),
            "damage": damage.get(i),
            "tail": i == tail,
        }
        for i in range(FLEET_FILES)
    ]


def expected_outcome(records: int, damage: str | None) -> dict:
    """Expected CLI report row from the damage class and block layout.

    Blocks hold FLEET_BLOCK_RECORDS records, the last one the remainder.
    truncate cuts inside the middle block, so the blocks before it
    survive; flip breaks the first block's payload, so the rest survive;
    bad_sync damages only the first block's trailing marker, so every
    record survives; bad_header loses the schema, so nothing does."""
    blocks = [FLEET_BLOCK_RECORDS] * (records // FLEET_BLOCK_RECORDS)
    if records % FLEET_BLOCK_RECORDS:
        blocks.append(records % FLEET_BLOCK_RECORDS)
    if damage is None:
        return {"status": "healthy", "records_salvaged": records, "blocks_lost": 0}
    if damage == "bad_header":
        return {"status": "unrepairable", "records_salvaged": 0, "blocks_lost": 0}
    salvaged = {
        "truncate": sum(blocks[: len(blocks) // 2]),
        "flip": records - blocks[0],
        "bad_sync": records,
    }[damage]
    return {
        "status": "repaired",
        "records_salvaged": salvaged,
        "blocks_lost": 0 if damage == "bad_sync" else 1,
    }


def fleet_records(seed: int, index: int, n: int) -> list[dict]:
    rng = np.random.default_rng([seed, 3, index])
    ts0 = 1_600_000_000_000_000 + int(rng.integers(0, 10**12))
    ts = ts0 + np.cumsum(rng.integers(1, 5_000_000, n))
    users = rng.integers(0, 50_000, n)
    amounts = np.round(rng.lognormal(3.0, 1.0, n), 2)
    word_idx = rng.integers(0, len(_WORDS), (n, 24))
    lengths = rng.integers(6, 24, n)
    return [
        {
            "event_id": index * 10_000_000 + j,
            "ts_us": int(ts[j]),
            "user": f"u{int(users[j]):06d}",
            "amount": float(amounts[j]),
            "body": " ".join(_WORDS[k] for k in word_idx[j, : lengths[j]]),
        }
        for j in range(n)
    ]


def _write_fleet_file(tree: str, seed: int, index: int, entry: dict) -> None:
    from s3_avro_repair_spark.avro_codec import write_ocf_bytes
    from s3_avro_repair_spark.sources import avro_pipeline as ap

    data = write_ocf_bytes(
        FLEET_SCHEMA,
        fleet_records(seed, index, entry["records"]),
        codec=entry["codec"],
        block_records=FLEET_BLOCK_RECORDS,
    )
    inject = {
        "truncate": ap.inject_truncate,
        "flip": ap.inject_flip,
        "bad_sync": ap.inject_bad_sync,
        "bad_header": ap.inject_bad_header,
    }
    if entry["damage"]:
        data = inject[entry["damage"]](data)
    with open(os.path.join(tree, entry["file"]), "wb") as f:
        f.write(data)


def fleet(root: str, seed: int) -> str:
    """Directory holding the fleet under ``avro/`` and ``manifest.json``.

    The files are written by one child process per core
    (``python3 inputs.py TREE SEED INDEX...``)."""
    path = _cache_dir(root, "fleet", seed)
    if _cached(path):
        return path
    _fresh(path)
    tree = os.path.join(path, "avro")
    os.makedirs(tree)
    plan = fleet_plan(seed)
    # Largest files first, dealt round-robin, so the children finish together.
    order = sorted(range(len(plan)), key=lambda i: -plan[i]["records"])
    n = min(os.cpu_count() or 1, len(order))
    children = [
        subprocess.Popen([sys.executable, os.path.abspath(__file__), tree, str(seed),
                          *map(str, order[k::n])])
        for k in range(n)
    ]
    codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"fleet writer exited with {codes}")
    manifest = []
    for e in plan:
        size = os.path.getsize(os.path.join(tree, e["file"]))
        manifest.append({**e, "bytes": size, **expected_outcome(e["records"], e["damage"])})
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    _finish(path)
    return path


def load_manifest(fleet_dir: str) -> list[dict]:
    with open(os.path.join(fleet_dir, "manifest.json")) as f:
        return json.load(f)


def tree_digest(path: str) -> str:
    """md5 over every file's relative name and bytes (cache markers excluded)."""
    h = hashlib.md5()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            if name == "_DONE":
                continue
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    # Fleet writer child: python3 inputs.py TREE SEED INDEX...
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _tree, _seed, *_indices = sys.argv[1:]
    _plan = fleet_plan(int(_seed))
    for _i in map(int, _indices):
        _write_fleet_file(_tree, int(_seed), _i, _plan[_i])
