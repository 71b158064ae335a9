"""``snapshot`` workload: batch snapshots through the YAML config path.

Untimed: ``sources.fixtures`` writes the ``property_sales`` and
``consumer_complaints`` tables (seeded), then a warm-up round runs every
job shape once, followed by two incremental snapshots. Timed: rounds of the
four full snapshot jobs — a ``SELECT *`` dump of each table with
``batch_size_num_records``, the reference example shape (projection +
``ORDER BY``) and a declared-``fields`` typed write — each round followed by
small incremental (``incremental_column``) snapshots, each after a seeded
append to its source. Rounds repeat until ``--seconds`` is spent (at least
``MIN_ROUNDS``); interleaving the two kinds spreads any drift in the host's
speed over both.
Outputs are checked after the timed region: catalog count parity, and a
DuckDB order-insensitive hash of the committed files against the same hash of
the generated source.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import gen

PS_ROWS = 50_000
CC_ROWS = 50_000
INC_BASE_ROWS = 20_000
INC_APPEND_ROWS = 2_000
MIN_ROUNDS = 2  # timed rounds run until --seconds is spent, at least this many
INCREMENTALS_PER_ROUND = 6
WARM_INCREMENTALS = 2
BATCH_SIZE = 20_000


def _yaml(name: str, path: str, table: str, query: str, out: str,
          batch: int = 0, fields: list[tuple[str, str, str | None]] = (),
          incremental: str = "") -> str:
    lines = [
        "archiver:",
        f"  name: {name}",
        "  source:",
        "    format: parquet",
        f"    path: {path}",
        "    schema: public",
        f"    table: {table}",
    ]
    if query:
        lines += ["    query: |"] + [f"      {q}" for q in query.splitlines()]
    if incremental:
        lines.append(f"    incremental_column: {incremental}")
    lines += ["  repository:", "    type: local", "    local:", f"      path: {out}",
              "  preserver:", "    type: parquet"]
    if batch:
        lines.append(f"    batch_size_num_records: {batch}")
    if fields:
        lines += ["    parquet:", "      schema:"]
        for fname, ftype, conv in fields:
            lines += [f"        - name: {fname}", f"          type: {ftype}"]
            if conv:
                lines.append(f"          converted_type: {conv}")
            lines.append("          repetition_type: OPTIONAL")
    return "\n".join(lines) + "\n"


# (job name, table, query, batch size, declared fields, DuckDB select list
# giving the expected committed columns from the source)
_PS_COLS = ("serial_number, list_year, date_recorded, town, assessed_value, sale_amount")
FULL_JOBS = [
    ("ps_dump", "property_sales", "", BATCH_SIZE, (), "*"),
    ("cc_dump", "consumer_complaints", "", BATCH_SIZE, (), "*"),
    ("ps_example", "property_sales",
     f"SELECT {_PS_COLS}\nFROM property_sales\nORDER BY serial_number", 0, (), _PS_COLS),
    ("ps_typed", "property_sales",
     f"SELECT {_PS_COLS}\nFROM property_sales", 0,
     (("serial_number", "INT64", None), ("list_year", "INT64", None),
      ("date_recorded", "INT32", "DATE"), ("town", "BYTE_ARRAY", "UTF8"),
      ("assessed_value", "DOUBLE", None), ("sale_amount", "DOUBLE", None)),
     "serial_number, CAST(list_year AS BIGINT) AS list_year, date_recorded, town, "
     "CAST(assessed_value AS DOUBLE) AS assessed_value, "
     "CAST(sale_amount AS DOUBLE) AS sale_amount"),
]


def _hash_sql(rel: str, select: str) -> str:
    return (f"SELECT count(*) AS n, sum(hash(COLUMNS(*))::HUGEINT) AS h "
            f"FROM (SELECT {select} FROM {rel})")


def duck_hash(con, files: list[str], select: str = "*") -> tuple:
    rel = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    return tuple(con.execute(_hash_sql(rel, select)).fetchone())


def parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


class SnapshotWorkload:
    name = "snapshot"

    def __init__(self, run, seed: int):
        self.run = run
        self.seed = seed
        self.data = run.sub("data", "snapshot")
        self.today = None

    # -- untimed inputs --------------------------------------------------
    def prepare(self, spark) -> None:
        from librarian_spark.sources import fixtures

        for table, n in (("property_sales", PS_ROWS), ("consumer_complaints", CC_ROWS)):
            fixtures.generate(spark, table, n, os.path.join(self.data, table), seed=self.seed)
        fixtures.generate(spark, "property_sales", INC_BASE_ROWS,
                          os.path.join(self.data, "inc_base"), seed=self.seed + 1)
        self.inc_schema = pq.read_schema(
            parquet_files(os.path.join(self.data, "inc_base"))[0]).remove_metadata()
        self.today = dt.date.today()

    # -- timed region ----------------------------------------------------
    def measure(self, spark, seconds: float, tag: str, tracer=None) -> dict:
        from librarian_spark.config import load_config_str
        from librarian_spark.snapshot import run_snapshot_config

        out_root = self.run.sub("out", f"snapshot-{tag}")
        inc_src = os.path.join(out_root, "inc_source")
        shutil.copytree(os.path.join(self.data, "inc_base"), inc_src)
        inc_out = os.path.join(out_root, "inc_out")
        res = {"full": {}, "inc": [], "jobs": [], "inc_src": inc_src, "inc_out": inc_out}

        def run_job(kind: str, yaml_text: str, out: str, expect: dict) -> None:
            cfg = load_config_str(yaml_text)
            t0 = time.perf_counter()
            err = None
            try:
                if tracer is not None:
                    with tracer.span(f"snapshot.job.{kind}"):
                        rec = run_snapshot_config(spark, cfg)
                else:
                    rec = run_snapshot_config(spark, cfg)
            except Exception as e:  # noqa: BLE001 — counted as a failed job
                rec, err = None, repr(e)
            wall = time.perf_counter() - t0
            res["jobs"].append({"kind": kind, "out": out, "wall": wall, "record": rec,
                                "error": err, "timed": not warming, **expect})
            if kind == "full":
                res["full"].setdefault(os.path.basename(out), []).append(wall)
            elif kind == "inc" and not warming:
                res["inc"].append(wall)

        # untimed: the incremental sequence starts from a full first run of
        # its source; then a warm-up round of every job shape
        warming = True
        run_job("init", _yaml("inc", inc_src, "property_sales", "", inc_out,
                              incremental="serial_number"),
                inc_out, {"expect_rows": INC_BASE_ROWS})
        next_serial, step = INC_BASE_ROWS + 1, 0

        def incremental() -> None:
            nonlocal next_serial, step
            step += 1
            t = gen.property_sales_append(self.inc_schema, next_serial, INC_APPEND_ROWS,
                                          self.seed, step, self.today)
            pq.write_table(t, os.path.join(inc_src, f"append-{step:05d}.parquet"))
            next_serial += INC_APPEND_ROWS
            run_job("inc", _yaml("inc", inc_src, "property_sales", "", inc_out,
                                 incremental="serial_number"),
                    inc_out, {"expect_rows": INC_APPEND_ROWS})

        for name, table, query, batch, fields, select in FULL_JOBS:
            out = os.path.join(out_root, "warm", name)
            run_job("warm", _yaml(name, os.path.join(self.data, table), table,
                                  query, out, batch=batch, fields=fields),
                    out, {"table": table, "select": select})
        for _ in range(WARM_INCREMENTALS):
            incremental()

        # timed: rounds of every full job shape followed by incremental
        # snapshots, until the time is spent
        warming = False
        if tracer is not None:
            tracer.mark_timed()
        t_end = time.perf_counter() + seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < t_end:
            for name, table, query, batch, fields, select in FULL_JOBS:
                out = os.path.join(out_root, f"full{r}", name)
                run_job("full", _yaml(name, os.path.join(self.data, table), table, query,
                                      out, batch=batch, fields=fields),
                        out, {"table": table, "select": select})
            for _ in range(INCREMENTALS_PER_ROUND):
                incremental()
            r += 1
        res["rounds"] = r
        return res

    # -- checks (untimed) -------------------------------------------------
    def verify(self, res: dict) -> tuple[int, int, list[str]]:
        import duckdb

        con = duckdb.connect()
        attempted, failed, notes = 0, 0, []
        for job in res["jobs"]:
            attempted += 1
            ok, why = True, ""
            rec = job["record"]
            if job["error"] or rec is None or not rec.success:
                ok, why = False, job["error"] or "catalog parity failed"
            elif job["kind"] in ("full", "warm"):
                src = parquet_files(os.path.join(self.data, job["table"]))
                want = duck_hash(con, src, job["select"])
                got = duck_hash(con, parquet_files(job["out"]))
                cat = os.path.exists(os.path.join(job["out"], "_catalog.json"))
                if got != want or not cat or rec.num_records_processed != want[0]:
                    ok, why = False, f"hash {got} != {want} or catalog missing"
            elif rec.num_records_processed != job["expect_rows"]:
                ok, why = False, f"delta rows {rec.num_records_processed} != {job['expect_rows']}"
            if not ok:
                failed += 1
                notes.append(f"{job['kind']} {job['out']}: {why}")
        # the incremental archive holds exactly the grown source, once
        attempted += 1
        want = duck_hash(con, parquet_files(res["inc_src"]))
        got = duck_hash(con, parquet_files(res["inc_out"]))
        if got != want:
            failed += 1
            notes.append(f"incremental archive hash {got} != source {want}")
        return attempted, failed, notes

    def output_bytes_per_row(self, res: dict) -> float:
        size = rows = 0
        for job in res["jobs"]:
            if job["kind"] == "full" and job["record"] is not None:
                size += sum(os.path.getsize(f) for f in parquet_files(job["out"]))
                rows += job["record"].num_source_records
        return size / rows if rows else float("nan")

    def e2e(self, res: dict) -> tuple[dict, dict]:
        """Throughput is the rows of one round of full jobs over the sum of
        each job shape's median wall time; the incremental figures are the
        Harrell-Davis p50 and p90 of the timed incremental snapshots."""
        from perfbench.harness import median, p50 as p50_of, tail

        rows = {os.path.basename(j["out"]): j["record"].num_records_processed
                for j in res["jobs"] if j["kind"] == "full" and j["record"] is not None}
        rate = sum(rows.values()) / sum(median(w) for w in res["full"].values())
        p50 = p50_of(res["inc"])
        tv, pct, n = tail(res["inc"])
        bpr = self.output_bytes_per_row(res)
        n_full = sum(len(w) for w in res["full"].values())
        named = {
            "snapshot_rows_per_s": (rate, "rows/s", f"{n_full} full jobs, {len(rows)} shapes"),
            "snapshot_bytes_per_row": (bpr, "B/row", ""),
            "incremental_snapshot_p50_s": (p50, "s", f"n={n}"),
            "incremental_snapshot_tail_s": (tv, "s", f"p{pct:.0f} n={n}"),
        }
        for name, walls in res["full"].items():
            named[f"  {name}"] = (median(walls), "s", " ".join(f"{x:.3f}" for x in walls))
        named["  incremental"] = (p50, "s", " ".join(f"{x:.3f}" for x in res["inc"]))
        return {"throughput_per_s": rate, "latency_p50_s": p50, "latency_tail_s": tv}, named
