"""The benchmark workloads.

Each workload is a closed loop: one client, one Spark application on
``local[nproc]``, and the next call starts only when the previous one
has returned. A workload provides

* ``prepare``: seeded inputs, cached per seed, outside every timer;
* ``iterate``: one timed pass; with a tracer, spans around each call
  into the package and Spark counters per job group (the set-up's
  warm-up is one untraced pass);
* ``check``: correctness of a pass, untimed;
* ``probe``: in-process, one-core layer probes on the workload's files
  (traced runs only).

``avro_fleet`` is two parts run back to back in one pass: the repair
CLI over a damaged fleet, and a lineitem round trip through the
``avro_ocf`` data source. ``query_mix`` runs six registered ops and
collects their results.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time

import duckdb

import inputs
import spans as tr
from tools.verify_local import compare

# ---------------------------------------------------------------------------
# helpers


def _timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag the Spark jobs run inside the block (traced passes only)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _mb(n_bytes: float) -> float:
    return n_bytes / 1e6


class Checked:
    """Counts checked operations and the ones that failed."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)

    def expect(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(msg)


def merge_counters(cs: list[dict]) -> dict:
    out = {k: sum(c[k] for c in cs) for k in tr.SUMMED}
    out["task_skew"] = max((c["task_skew"] for c in cs), default=0.0)
    for k in ("stages", "intervals"):
        out[k] = [x for c in cs for x in c[k]]
    return out


# ---------------------------------------------------------------------------
# avro_fleet, part 1: the repair CLI


class RepairPart(Checked):
    """``cli.main(["--path", fleet, "--out", out])`` over a seeded fleet."""

    def prepare(self):
        ctx = self.ctx
        self.fleet_dir = inputs.fleet(ctx.cache, ctx.seed)
        self.tree = os.path.join(self.fleet_dir, "avro")
        self.manifest = inputs.load_manifest(self.fleet_dir)
        self.input_bytes = sum(e["bytes"] for e in self.manifest)
        self.out = os.path.join(ctx.work, "out", "repair")
        self._n_parts = None

    def iterate(self, tracer):
        ctx = self.ctx
        shutil.rmtree(self.out, ignore_errors=True)
        group = ctx.new_group("repair") if tracer.enabled else None
        buf = io.StringIO()
        with tracer.span("cli:main") as sp, job_group(ctx.spark, group):
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(buf):
                rc = ctx.pkg.cli.main(["--path", self.tree, "--out", self.out])
            wall = time.perf_counter() - t0
        res = {"wall_s": wall, "rc": rc, "report": buf.getvalue(),
               "repair_mb_per_s": _mb(self.input_bytes) / wall}
        if tracer.enabled:
            c = tr.group_counters(ctx.spark, group)
            tracer.add_jobs(c, sp)
            res["counters"] = c
            res["cli.jobs"] = c["jobs"]
            res["cli.scan_passes"] = c["scan_tasks"] / self._fleet_partitions()
        return res

    def _fleet_partitions(self) -> int:
        """Partitions of one binaryFile scan of the fleet (planning only)."""
        if self._n_parts is None:
            df = (self.ctx.spark.read.format("binaryFile")
                  .option("pathGlobFilter", "*.avro")
                  .option("recursiveFileLookup", "true").load(self.tree))
            self._n_parts = df.rdd.getNumPartitions()
        return self._n_parts

    @staticmethod
    def parse_report(text: str) -> tuple[dict, dict]:
        """(per-file rows of the non-healthy detail table, status counts)."""
        rows, counts = {}, {}
        for line in text.splitlines():
            parts = line.split()
            if len(parts) >= 6 and parts[0].endswith(".avro"):
                rows[parts[0]] = {
                    "status": parts[1],
                    "blocks_lost": int(parts[4]),
                    "records_salvaged": int(parts[5]),
                }
            elif " files: " in line:
                for item in line.split(":", 1)[1].split(","):
                    n, status = item.split()
                    counts[status] = int(n)
        return rows, counts

    def check(self, res):
        rows, counts = self.parse_report(res["report"])
        expected_counts: dict[str, int] = {}
        for e in self.manifest:
            expected_counts[e["status"]] = expected_counts.get(e["status"], 0) + 1
            if e["status"] == "healthy":
                self.expect(e["file"] not in rows,
                            f"{e['file']}: healthy file reported as {rows.get(e['file'])}")
                continue
            got = rows.get(e["file"])
            want = {k: e[k] for k in ("status", "blocks_lost", "records_salvaged")}
            ok = got == want
            msg = f"{e['file']}: report {got}, expected {want}"
            if ok and e["status"] == "repaired":
                ok = self._reread(e["file"]) == e["records_salvaged"]
                msg = f"{e['file']}: repaired output does not re-read to {e['records_salvaged']} records"
            self.expect(ok, msg)
        for status in ("healthy", "repaired", "unrepairable"):
            self.expect(counts.get(status, 0) == expected_counts.get(status, 0),
                        f"summary {status}: {counts.get(status, 0)} != {expected_counts.get(status, 0)}")
        want_rc = 2 if expected_counts.get("unrepairable") else 0
        self.expect(res["rc"] == want_rc, f"exit code {res['rc']} != {want_rc}")

    def _reread(self, file: str) -> int:
        try:
            _schema, recs = self.ctx.pkg.avro_codec.read_ocf(_read(os.path.join(self.out, file)))
        except (OSError, ValueError):
            return -1
        return len(recs)

    def counts(self, res) -> dict:
        rows, _ = self.parse_report(res["report"])
        damaged = sum(e["records"] for e in self.manifest if e["damage"])
        salvaged = sum(r["records_salvaged"] for r in rows.values())
        return {
            "avro_codec.blocks_lost": sum(r["blocks_lost"] for r in rows.values()),
            "avro_codec.records_salvaged": salvaged,
            "avro_codec.salvage_yield": salvaged / damaged if damaged else 0.0,
        }

    def probe(self) -> dict:
        """Codec rates per codec on the fleet's healthy files; codec-only
        time on every file the CLI handles; fsio on the repaired outputs."""
        codec = self.ctx.pkg.avro_codec
        healthy = [e for e in self.manifest if not e["damage"]]
        out = {}
        write_b = write_t = 0.0
        for c in inputs.CODECS:
            files = sorted((e for e in healthy if e["codec"] == c), key=lambda e: e["bytes"])
            blobs = [_read(os.path.join(self.tree, e["file"])) for e in files[-4:]]
            n = _mb(sum(len(b) for b in blobs))
            salvaged = []
            t_salvage = 0.0
            for b in blobs:
                res, t = _timed(codec.salvage_ocf, b)
                salvaged.append(res)
                t_salvage += t
            t_read = sum(_timed(codec.read_ocf, b)[1] for b in blobs)
            out[f"avro_codec.salvage_mb_per_s_core.{c}"] = n / t_salvage
            out[f"avro_codec.read_mb_per_s_core.{c}"] = n / t_read
            for res in salvaged:
                data, t = _timed(codec.write_ocf_bytes, res.schema, res.records, codec=c,
                                 block_records=inputs.FLEET_BLOCK_RECORDS)
                write_b += len(data)
                write_t += t
        out["avro_codec.write_mb_per_s_core"] = _mb(write_b) / write_t
        # Codec-only time on the bytes the CLI's Python stage handles:
        # salvage of every file plus re-encoding what is repaired.
        codec_s = 0.0
        for e in self.manifest:
            res, t = _timed(codec.salvage_ocf, _read(os.path.join(self.tree, e["file"])))
            codec_s += t
            if res.header_ok and not res.healthy:
                codec_s += _timed(codec.write_ocf_bytes, res.schema, res.records)[1]
        out["boundary.codec_s"] = codec_s
        outputs = [os.path.join(self.out, f) for f in sorted(os.listdir(self.out))
                   if f.endswith(".avro")]
        out.update(fsio_probe(self.ctx, outputs))
        return out


# ---------------------------------------------------------------------------
# avro_fleet, part 2: lineitem through the avro_ocf data source

_AGG_SQL = """
SELECT l_returnflag, COUNT(*) AS n, SUM(l_orderkey) AS sum_orderkey,
       SUM(l_linenumber) AS sum_linenumber,
       SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sum_price_cents,
       SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sum_disc_pct,
       MAX(l_tax) AS max_tax, MIN(l_linestatus) AS min_status
FROM rows GROUP BY l_returnflag
"""
_AGG_FIELDS = ("n", "sum_orderkey", "sum_linenumber", "sum_qty", "sum_price_cents",
               "sum_disc_pct", "max_tax", "min_status")


def expected_aggregates(lineitem_parquet: str) -> dict:
    """The round trip's aggregate, computed by pyarrow over the source parquet."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(lineitem_parquet)
    t = t.append_column("qty", pc.cast(t["l_quantity"], "int64"))
    t = t.append_column("cents", pc.cast(pc.round(pc.multiply(t["l_extendedprice"], 100)), "int64"))
    t = t.append_column("pct", pc.cast(pc.round(pc.multiply(t["l_discount"], 100)), "int64"))
    g = t.group_by("l_returnflag").aggregate([
        ("l_orderkey", "count"), ("l_orderkey", "sum"), ("l_linenumber", "sum"),
        ("qty", "sum"), ("cents", "sum"), ("pct", "sum"), ("l_tax", "max"),
        ("l_linestatus", "min"),
    ])
    return {
        r["l_returnflag"]: (
            r["l_orderkey_count"], r["l_orderkey_sum"], r["l_linenumber_sum"],
            r["qty_sum"], r["cents_sum"], r["pct_sum"], r["l_tax_max"], r["l_linestatus_min"],
        )
        for r in g.to_pylist()
    }


class RoundtripPart(Checked):
    """Write lineitem's ten primitive columns as Avro, read back, aggregate."""

    def prepare(self):
        ctx = self.ctx
        self.src_path = os.path.join(inputs.tables(ctx.cache, ctx.seed), "lineitem.parquet")
        self.expected = expected_aggregates(self.src_path)
        self.out = os.path.join(ctx.work, "out", "roundtrip")
        self.input_bytes = 0  # container bytes, known after the first write

    def iterate(self, tracer):
        spark, fmt = self.ctx.spark, self.ctx.fmt
        g_write, g_read = (self.ctx.new_group(g) if tracer.enabled else None
                           for g in ("write", "read"))
        with tracer.span("avro_datasource:write") as sp_w, job_group(spark, g_write):
            t0 = time.perf_counter()
            # l_shipdate is a timestamp, which the avro_ocf writer rejects.
            src = spark.read.parquet(self.src_path).drop("l_shipdate")
            src.repartition(self.ctx.nproc).write.format(fmt).mode("overwrite").save(self.out)
            write_s = time.perf_counter() - t0
        files = sorted(f for f in os.listdir(self.out) if f.endswith(".avro"))
        sizes = [os.path.getsize(os.path.join(self.out, f)) for f in files]
        self.input_bytes = sum(sizes)
        # Every container spans at least four byte-range splits.
        split = max(min(sizes) // 4, 1)
        with tracer.span("avro_datasource:read") as sp_r, job_group(spark, g_read):
            t0 = time.perf_counter()
            df = spark.read.format(fmt).option("split_size_bytes", split).load(self.out)
            df.createOrReplaceTempView("rows")
            rows = spark.sql(_AGG_SQL).collect()
            read_s = time.perf_counter() - t0
        res = {
            "wall_s": write_s + read_s,
            "write_mb_per_s": _mb(self.input_bytes) / write_s,
            "scan_mb_per_s": _mb(self.input_bytes) / read_s,
            "rows": [r.asDict() for r in rows], "files": files,
        }
        if tracer.enabled:
            # The Python writer runs in the write's result stages, the ones
            # that write no shuffle.
            cw = tr.group_counters(spark, g_write, lambda s: s["shuffle_write_mb"] == 0)
            cr = tr.group_counters(spark, g_read)
            tracer.add_jobs(cw, sp_w)
            tracer.add_jobs(cr, sp_r)
            res["counters"] = merge_counters([cw, cr])
            res["avro_datasource.partitions"] = df.rdd.getNumPartitions()
        return res

    def check(self, res):
        got = {r["l_returnflag"]: tuple(r[f] for f in _AGG_FIELDS) for r in res["rows"]}
        self.expect(got == self.expected, f"roundtrip aggregates {got} != {self.expected}")
        self.expect(len(res["files"]) == self.ctx.nproc,
                    f"{len(res['files'])} container files, expected {self.ctx.nproc}")

    def probe(self) -> dict:
        """Codec-only time on the containers (decode and re-encode them
        as the writer does: null codec, 1000-record blocks), the reader on
        one split, and fsio on the container bytes."""
        codec = self.ctx.pkg.avro_codec
        parts = [os.path.join(self.out, f) for f in sorted(os.listdir(self.out))
                 if f.endswith(".avro")]
        codec_s = 0.0
        for p in parts:
            (schema, recs), t_read = _timed(codec.read_ocf, _read(p))
            codec_s += t_read + _timed(codec.write_ocf_bytes, schema, recs, block_records=1000)[1]
        return {"boundary.codec_s": codec_s, **reader_probe(self.ctx, parts[0]),
                **fsio_probe(self.ctx, parts)}


class AvroFleet:
    """One pass: the repair CLI over the fleet, then the lineitem round trip."""

    name = "avro_fleet"

    def __init__(self, ctx):
        self.ctx = ctx
        self.repair = RepairPart(ctx)
        self.roundtrip = RoundtripPart(ctx)
        self.parts = (self.repair, self.roundtrip)

    attempted = property(lambda self: sum(p.attempted for p in self.parts))
    failed = property(lambda self: sum(p.failed for p in self.parts))
    problems = property(lambda self: [m for p in self.parts for m in p.problems])
    input_bytes = property(lambda self: sum(p.input_bytes for p in self.parts))

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def iterate(self, tracer):
        rep = self.repair.iterate(tracer)
        rt = self.roundtrip.iterate(tracer)
        res = {**rep, **rt, "wall_s": rep["wall_s"] + rt["wall_s"], "parts": (rep, rt)}
        if tracer.enabled:
            res["counters"] = merge_counters([rep["counters"], rt["counters"]])
        return res

    def check(self, res):
        for p, r in zip(self.parts, res["parts"]):
            p.check(r)

    def counts(self, res) -> dict:
        return self.repair.counts(res["parts"][0])

    def probe(self) -> dict:
        out = self.repair.probe()
        rt = self.roundtrip.probe()
        for key in ("boundary.codec_s", "fsio.write_s", "fsio.write_mb"):
            out[key] += rt[key]
        out["avro_datasource.read_mb_per_s_core"] = rt["avro_datasource.read_mb_per_s_core"]
        return out


# ---------------------------------------------------------------------------
# query_mix

# op -> the fixture tables it reads
MIX = {
    "agg_groupby": ("lineitem",),
    "join_sort_merge": ("orders", "lineitem"),
    "q_local_supplier": ("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "text_tfidf": ("documents",),
    "dedup_phash": ("documents",),
    "window_running": ("lineitem",),
}


class QueryMix(Checked):
    """Six registered ops with DuckDB oracles, one after another, each
    result collected with ``toPandas`` so every invocation is checked
    without running it again."""

    name = "query_mix"

    def prepare(self):
        self.tables_dir = inputs.tables(self.ctx.cache, self.ctx.seed)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.tables_dir, f"{t}.parquet"))
            for tabs in MIX.values() for t in tabs
        )
        self.duck = duckdb.connect()
        for t in {t for tabs in MIX.values() for t in tabs}:
            path = os.path.join(self.tables_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.want = {}  # op -> oracle result, run once on first use

    def _ops(self):
        ops = self.ctx.registry_ops
        return [(name, ops[name]) for name in MIX]

    def iterate(self, tracer):
        spark = self.ctx.spark
        res = {"op": {}, "results": {}}
        if tracer.enabled:
            res.update({"operators.construct_s": 0.0,
                        "operators.construct_jobs": 0, "catalyst.plan_s": 0.0})
            counters = []
        for name, op in self._ops():
            self.attempted += 1
            try:
                if not tracer.enabled:
                    t0 = time.perf_counter()
                    res["results"][name] = op.fn(spark, self.tables_dir).toPandas()
                    res["op"][name] = time.perf_counter() - t0
                    continue
                g_c, g_x = self.ctx.new_group(f"c.{name}"), self.ctx.new_group(f"x.{name}")
                with tracer.span(f"op:{name}") as sp_op:
                    with tracer.span("operators:construct") as sp_c, job_group(spark, g_c):
                        df, t_c = _timed(op.fn, spark, self.tables_dir)
                    with tracer.span("catalyst:plan"):
                        plan_s = tr.plan_seconds(df)
                    # toPandas executes the plan made above.
                    with tracer.span("execute") as sp_x, job_group(spark, g_x):
                        res["results"][name] = df.toPandas()
                res["op"][name] = sp_op["end"] - sp_op["start"]
                cc, cx = tr.group_counters(spark, g_c), tr.group_counters(spark, g_x)
                tracer.add_jobs(cc, sp_c)
                tracer.add_jobs(cx, sp_x)
                res["operators.construct_s"] += t_c
                res["operators.construct_jobs"] += cc["jobs"]
                res["catalyst.plan_s"] += plan_s
                counters += [cc, cx]
            except Exception as exc:  # an op that raises is a failed operation
                self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                res["op"][name] = float("nan")
        res["wall_s"] = sum(res["op"].values())
        if tracer.enabled:
            # After the ops, so it does not warm their own table reads.
            with tracer.span("tables:table"):
                t0 = time.perf_counter()
                for t in (t for tabs in MIX.values() for t in tabs):
                    self.ctx.pkg.tables.table(spark, self.tables_dir, t)
                res["tables.table_s"] = time.perf_counter() - t0
            res["counters"] = merge_counters(counters)
        return res

    def check(self, res):
        """Each invocation's result against its op's registered DuckDB
        oracle (an op that raised was counted in ``iterate``)."""
        for name, got in res["results"].items():
            try:
                problems = compare(name, got, self._oracle(name))
            except Exception as exc:
                problems = [f"{type(exc).__name__}: {str(exc)[:200]}"]
            if problems:
                self.fail(f"{name}: " + "; ".join(problems))

    def _oracle(self, name: str):
        if name not in self.want:
            self.want[name] = self.duck.execute(self.ctx.registry_ops[name].oracle).fetchdf()
        return self.want[name]

    def counts(self, res) -> dict:
        return {}

    def probe(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# in-process probes


def reader_probe(ctx, path: str) -> dict:
    """``AvroOCFReader.read`` over one byte-range split (not the first, so
    the read resyncs on a sync marker), in-process."""
    ds = ctx.pkg.avro_datasource
    split = max(os.path.getsize(path) // 4, 1)
    source = ds.AvroOCFDataSource({"path": path, "split_size_bytes": str(split)})
    reader = source.reader(ctx.spark.createDataFrame([], source.schema()).schema)
    parts = reader.partitions()
    part = parts[1] if len(parts) > 1 else parts[0]
    _f, start, end, _size = part.value
    _, t = _timed(lambda: list(reader.read(part)))
    return {"avro_datasource.read_mb_per_s_core": _mb(end - start) / t}


def fsio_probe(ctx, paths: list[str]) -> dict:
    """``fsio.atomic_write_bytes`` of the bytes the pass wrote."""
    fsio = ctx.pkg.fsio
    target = os.path.join(ctx.work, "probe-fsio")
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target)
    total, t = 0, 0.0
    for p in paths:
        data = _read(p)
        t += _timed(fsio.atomic_write_bytes, os.path.join(target, os.path.basename(p)), data)[1]
        total += len(data)
    shutil.rmtree(target, ignore_errors=True)
    return {"fsio.write_s": t, "fsio.write_mb": _mb(total)}


WORKLOADS = {w.name: w for w in (AvroFleet, QueryMix)}
