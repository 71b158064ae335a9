"""``query_mix`` workload: a closed loop, one client, over registry queries.

Untimed: the TPC-H-ish tables are generated from the seed, then one pass runs
every query, collects its result and compares it with the query's registry
DuckDB oracle (exact match after canonicalisation) — this is the correctness
check, and it fills the operators' input caches; ``WARM_PASSES`` more
passes warm the JIT. Timed: passes over the same list, each in a
seed-permuted order, each query executed through a ``noop`` write; passes
repeat until ``--seconds`` is spent (at least ``MIN_PASSES``). A query's
latency is ``spark_fn`` (plan build, including any driver-side collects)
plus the ``noop`` write.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import threading
import time

import numpy as np

from perfbench import gen

# non-streaming registry queries; operator family → layer in ``layers.py``
QUERIES = [
    "q06_tpch_q1", "q40_tpch_q3", "q17_window_rank", "graph_degree_distribution",
    "dedup_exact", "dedup_minhash_lsh", "sim_cosine_topk", "text_token_count",
    "text_corpus_stats",
]
WARM_PASSES = 2  # untimed passes after the oracle pass
MIN_PASSES = 2  # timed passes run until --seconds is spent, at least this many


def family(name: str) -> str:
    for prefix, fam in (("dedup_", "dedup"), ("sim_", "similarity"), ("text_", "text")):
        if name.startswith(prefix):
            return fam
    return "relational"  # q* and graph_*


def _canon(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("ts", v.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


class QueryMixWorkload:
    name = "query_mix"

    def __init__(self, run, seed: int):
        self.run = run
        self.seed = seed
        self.warmed = False

    def prepare(self, spark) -> None:
        from librarian_spark.operators.registry import load_all

        self.sf_dir = self.run.sub("data", "tpch")
        gen.tpch_tables(self.sf_dir, self.seed)
        specs = load_all()
        self.specs = {n: specs[n] for n in QUERIES}

    def _oracle_check(self, spark) -> list[tuple[str, str | None]]:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 1")  # leave the CPUs to Spark's pass
        for f in os.listdir(self.sf_dir):
            t = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, f)}')")
        # the oracles run in a thread beside Spark's pass; both are untimed
        want: dict[str, object] = {}

        def oracles():
            for name in QUERIES:
                try:
                    cur = con.execute(self.specs[name].oracle)
                    want[name] = canonical([d[0] for d in cur.description], cur.fetchall())
                except Exception as e:  # noqa: BLE001 — counted as a failed query
                    want[name] = e

        th = threading.Thread(target=oracles, name="perfbench-oracles")
        th.start()
        got: dict[str, object] = {}
        try:
            for name in QUERIES:
                try:
                    sdf = self.specs[name].spark_fn(spark, self.sf_dir)
                    got[name] = canonical(sdf.columns, [tuple(r) for r in sdf.collect()])
                except Exception as e:  # noqa: BLE001 — counted as a failed query
                    got[name] = e
                spark.catalog.clearCache()
        finally:
            th.join()
        out = []
        for name in QUERIES:
            g, w = got[name], want[name]
            if isinstance(g, Exception) or isinstance(w, Exception):
                out.append((name, repr(g if isinstance(g, Exception) else w)[:300]))
            else:
                out.append((name, None if g == w else
                            f"{len(g)} rows vs oracle {len(w)}, values differ"))
        return out

    def measure(self, spark, seconds: float, tag: str, tracer=None) -> dict:
        checked = []
        rng = np.random.default_rng([self.seed, 4])
        if not self.warmed:
            # untimed: the oracle pass runs every query once, then further
            # passes let the JIT settle (latencies still fell by about a
            # third from the second pass to the fourth)
            checked = self._oracle_check(spark)
            warm = self._new_result([])
            for _ in range(WARM_PASSES):
                self._pass(spark, rng, warm, None)
            self.warmed = True
        res = self._new_result(checked)
        if tracer is not None:
            tracer.mark_timed()
        t_end = time.perf_counter() + seconds
        while len(res["passes"]) < MIN_PASSES or time.perf_counter() < t_end:
            self._pass(spark, rng, res, tracer)
        return res

    @staticmethod
    def _new_result(checked) -> dict:
        return {"checked": checked, "lat": [], "passes": [], "errors": [],
                "by_query": {n: [] for n in QUERIES}}

    def _pass(self, spark, rng, res: dict, tracer) -> None:
        """One pass over the list in a seed-permuted order."""
        order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        t_pass = time.perf_counter()
        for name in order:
            spec = self.specs[name]
            fam = family(name)
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span(f"operators.{fam}"):
                        with tracer.span("operators.build"):
                            df = spec.spark_fn(spark, self.sf_dir)
                        with tracer.span("operators.execute"):
                            df.write.format("noop").mode("overwrite").save()
                else:
                    df = spec.spark_fn(spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — counted as a failed query
                res["errors"].append((name, repr(e)[:300]))
                continue
            t2 = time.perf_counter()
            res["lat"].append(t2 - t0)
            res["by_query"][name].append(t2 - t0)
            spark.catalog.clearCache()
        res["passes"].append(time.perf_counter() - t_pass)

    def verify(self, res: dict) -> tuple[int, int, list[str]]:
        notes = [f"{n}: {why}" for n, why in res["checked"] if why]
        notes += [f"{n} (timed): {why}" for n, why in res["errors"]]
        attempted = len(res["checked"]) + len(res["lat"]) + len(res["errors"])
        return attempted, len(notes), notes

    def e2e(self, res: dict) -> tuple[dict, dict]:
        """Throughput is the mix's length over the sum of each query's
        median latency (queries per second of one typical pass), so one slow
        execution or the pass order does not move it. p50 and tail are the
        Harrell-Davis p50 and p90 of every timed execution."""
        from perfbench.harness import median, p50 as p50_of, tail

        per_q = {q: median(v) for q, v in res["by_query"].items() if v}
        qps = len(per_q) / sum(per_q.values())
        p50 = p50_of(res["lat"])
        tv, pct, n = tail(res["lat"])
        slowest = sorted(per_q, key=lambda q: -per_q[q])
        named = {
            "query_mix_s": (median(res["passes"]), "s", f"{len(res['passes'])} passes of {len(QUERIES)} queries"),
            "queries_per_s": (qps, "1/s", "closed loop, 1 client; mix length / sum of per-query medians"),
            "query_p50_s": (p50, "s", f"n={n}"),
            "query_tail_s": (tv, "s", f"p{pct:.0f} n={n}; slowest: {' '.join(slowest[:3])}"),
        }
        for q in QUERIES:
            if q in per_q:
                named[f"  {q}"] = (per_q[q], "s", " ".join(f"{x:.3f}" for x in res["by_query"][q]))
        return {"throughput_per_s": qps, "latency_p50_s": p50, "latency_tail_s": tv}, named
