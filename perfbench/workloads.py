"""The benchmark's workloads: what one request is, how a seed turns into
one pass of requests, and how each output is checked.

Each workload is a closed loop with one client.  A *pass* is one seeded
list of requests; the harness runs whole passes, and every pass starts
from fresh state (an empty result-cache directory, fresh job output
directories), so every pass of one seed does the same work.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
from datetime import date, datetime

from perfbench import datagen

# Registered queries whose frames are built by eager barrier jobs (label
# propagation rounds, core peeling, pairwise resolution, fan-out cells).
# At sf0.01 each takes 2-4 s on a 4-core host, nearly all of it per-job
# overhead.  At sf0.1 q179 and q221 take 13-24 s, and q116, q160 and q260
# take 14-24 s even at sf0.01: more than the run budget holds.
ITERATIVE_QUERIES = (
    "q221_label_propagation",
    "q199_kcore",
    "q179_entity_resolution",
    "q256_friedman_dow",
)


def norm_rows(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Order-free form of a result: columns sorted by name, floats
    rounded to 6 places, rows sorted (the engine's oracle compare rules)."""

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6) + 0.0
        if isinstance(v, (datetime, date)):
            return v.isoformat()
        if hasattr(v, "item"):  # numpy scalar
            return cell(v.item())
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return tuple(sorted(cols)), out


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def isolate(spark) -> None:
    """Drop cached tables and persistent RDDs a request left behind."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """One request stream.  ``run`` is the timed request; ``capture``
    runs off the clock right after it and returns what ``check`` needs."""

    name = ""
    scale = "sf0.1"
    # Nominal request time of one warm pass on a 4-core host, rounded
    # down: a run times ceil(--seconds / pass_s) passes.
    pass_s = 1.0

    def __init__(self, data_root: str):
        self.data_root = data_root
        self.sf_dir = os.path.join(data_root, self.scale)

    def prepare(self) -> None:
        datagen.generate(self.sf_dir, self.scale)

    def requests(self, seed: int) -> list:
        raise NotImplementedError

    def warmup_passes(self, seed: int) -> list[list]:
        """The warm-up, as passes run before the timed ones, each from
        fresh state: by default one pass with every distinct request of
        the timed stream once, in first-seen order."""
        distinct: dict[str, object] = {}
        for req in self.requests(seed):
            distinct.setdefault(repr(req), req)
        return [list(distinct.values())]

    def begin_pass(self, spark, pass_dir: str, warm: bool) -> None:
        self.pass_dir = pass_dir

    def run(self, spark, req, tr):
        raise NotImplementedError

    def capture(self, spark, req, out, tr) -> dict:
        raise NotImplementedError

    def check(self, spark, records: list[tuple[dict, object]]) -> list[str | None]:
        """One verdict per ``(captured record, request)`` pair: None when
        the output is correct, else why not."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# dashboard


def _dashboard_pool(rng: random.Random) -> list:
    """Six MetricQuery configs, one per template, three per dataset; the
    seed picks filter values, so each seed asks different questions of
    the same shape."""
    from magi_etl_spark.config import FilterGroup, MetricQueryConfig

    def pick(xs, k):
        return sorted(rng.sample(list(xs), k))

    def fg(attr, values):
        return [FilterGroup(attribute=attr, values=values)]

    types = ["click", "error", "purchase", "signup", "view"]
    buckets = [str(i) for i in range(10)]
    srcs = [f"src{i}" for i in range(20)]
    return [
        MetricQueryConfig("events", ["event_type"], ["users", "events_cnt"],
                          fg("event_type", pick(types, 3))),
        MetricQueryConfig("events", ["day"], ["events_cnt", "value_c"],
                          fg("k_bucket", pick(buckets, 4))),
        MetricQueryConfig("events", ["k_bucket"], ["users", "value_c"],
                          fg("event_type", pick(types, 2)),
                          min_metric="users", min_count=rng.randint(100, 400)),
        MetricQueryConfig("documents", ["lang"], ["docs", "total_chars"],
                          fg("source", pick(srcs, 6))),
        MetricQueryConfig("documents", ["token"], ["docs"],
                          fg("lang", pick(["de", "en", "es", "fr", "zh"], 2)), limit=20),
        MetricQueryConfig("documents", ["source", "lang"], ["rows_cnt"],
                          fg("token", pick(datagen.WORDS, 2))),
    ]


# Zipf(1) repeat counts over the six configs of a pass: 24 requests,
# 6 first-time misses and 18 repeats (75% hits) for every seed.
ZIPF_COUNTS = (10, 5, 3, 2, 2, 2)


class Dashboard(Workload):
    """Templated metric queries served through the result cache."""

    name = "dashboard"
    pass_s = 4.0

    def requests(self, seed: int) -> list:
        # The popularity order of the templates is fixed, so every seed
        # repeats configs of the same cost the same number of times; the
        # seed picks filter values and the order of requests.
        rng = random.Random(seed)
        pool = _dashboard_pool(rng)
        stream = [i for i, n in enumerate(ZIPF_COUNTS) for _ in range(n)]
        rng.shuffle(stream)
        return [(i, pool[i]) for i in stream]

    def warmup_passes(self, seed: int) -> list[list]:
        # every config once as a miss and once as a hit, then two whole
        # timed passes: after the first alone, latencies still fell
        # through the timed passes while the JIT caught up.  A third cut
        # the run-to-run spread further but does not fit the run budget.
        (distinct,) = super().warmup_passes(seed)
        return [[req for req in distinct for _ in range(2)]] + [self.requests(seed)] * 2

    def begin_pass(self, spark, pass_dir: str, warm: bool) -> None:
        from magi_etl_spark.cache import ResultCache

        super().begin_pass(spark, pass_dir, warm)
        self.cache = ResultCache(os.path.join(pass_dir, "cache"))

    def run(self, spark, req, tr):
        from magi_etl_spark.query import metric_query

        _, cfg = req
        filled = []

        def compute():
            filled.append(True)
            with tr.span("query.construct"):
                df = metric_query(spark, self.sf_dir, cfg)
            tr.compile(df)
            return df

        with tr.span("cache.get_or_compute"):
            df = self.cache.get_or_compute(spark, cfg.cache_key(), compute)
        tr.compile(df)
        with tr.span("collect"):
            rows = df.collect()
        return not filled, df.columns, rows

    def capture(self, spark, req, out, tr) -> dict:
        hit, cols, rows = out
        rec = {"key": req[0], "hit": hit, "rows": norm_rows(cols, rows)}
        if not hit:
            key_dir = os.path.join(self.cache.root, req[1].cache_key())
            rec["cache_bytes"] = dir_bytes(key_dir)
        return rec

    def check(self, spark, records):
        from magi_etl_spark.query import metric_query

        pool = {}
        for rec, req in records:
            pool.setdefault(req[0], req[1])
        reference = {}
        for key, cfg in pool.items():
            df = metric_query(spark, self.sf_dir, cfg)
            reference[key] = norm_rows(df.columns, df.collect())
        verdicts = []
        filled_from: dict[tuple, object] = {}
        for rec, req in records:
            fill_key = (rec["pass"], rec["key"])
            if not rec["hit"]:
                filled_from[fill_key] = rec["rows"]
            if rec["rows"] != reference[rec["key"]]:
                verdicts.append("differs from the uncached result")
            elif rec["hit"] and filled_from.get(fill_key) != rec["rows"]:
                verdicts.append("cache hit differs from the result it was filled from")
            else:
                verdicts.append(None)
        return verdicts


# --------------------------------------------------------------------------
# iterative


class Iterative(Workload):
    """Registered queries whose frames are built by eager barrier jobs,
    collected to the driver, with isolation between requests.  The rows
    checked are the ones the timed request returned."""

    name = "iterative"
    scale = "sf0.01"
    pass_s = 16.0

    def requests(self, seed: int) -> list:
        # each query twice per pass: one request per query leaves the
        # pass median at the mercy of one query's run-to-run noise
        order = list(ITERATIVE_QUERIES) * 2
        random.Random(seed).shuffle(order)
        return order

    def run(self, spark, req, tr):
        from magi_etl_spark.queries import QUERIES

        with tr.span("construct", group="construct"):
            df = QUERIES[req](spark, self.sf_dir)
        tr.compile(df)
        with tr.span("sink"):
            rows = df.collect()
        return df.columns, rows

    def capture(self, spark, req, out, tr) -> dict:
        cols, rows = out
        return {"key": req, "rows": norm_rows(cols, rows)}

    def check(self, spark, records):
        import duckdb

        from magi_etl_spark.queries import ORACLE

        con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        oracle = {}
        for rec, _ in records:
            name = rec["key"]
            if name not in oracle:
                rel = con.execute(ORACLE[name])
                oracle[name] = norm_rows([d[0] for d in rel.description], rel.fetchall())
        con.close()
        return [
            None if rec["rows"] == oracle[rec["key"]] else "differs from the DuckDB oracle"
            for rec, _ in records
        ]


# --------------------------------------------------------------------------
# etl-x8

# Parameter choices per job; the seed picks one of each per pass.  Every
# choice has a pinned summary digest in etl_digests.json.
ETL_PARAMS = {
    "audit": [{"split_ts": "2024-01-10"}, {"split_ts": "2024-01-16"}],
    "engagement": [{"max_days": 21}, {"max_days": 30}],
    "govern": [
        {"min_docs": 10, "k": 5, "l_distinct": 3, "epsilon": 1.0, "nonce": "release-0"},
        {"min_docs": 10, "k": 3, "l_distinct": 2, "epsilon": 0.5, "nonce": "release-1"},
    ],
}
DIGESTS_FILE = os.path.join(os.path.dirname(__file__), "etl_digests.json")


def summary_digest(summary: dict) -> str:
    """Digest of a job summary with floats cut to 9 significant digits, so
    the last bits of a distributed float sum do not flip it."""

    def canon(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, list):
            return [canon(x) for x in v]
        return v

    return digest(json.dumps({k: canon(v) for k, v in summary.items()}, sort_keys=True))


def params_id(job: str, params: dict) -> str:
    return job + ":" + json.dumps(params, sort_keys=True)


class EtlX8(Workload):
    """The audit, engagement and govern jobs over an 8x copy of sf0.1."""

    name = "etl-x8"
    pass_s = 20.0
    copies = 8

    def __init__(self, data_root: str):
        super().__init__(data_root)
        self.x8_dir = os.path.join(data_root, f"x{self.copies}")

    def prepare(self) -> None:
        super().prepare()
        datagen.replicate(self.sf_dir, self.x8_dir, self.copies)

    def begin_pass(self, spark, pass_dir: str, warm: bool) -> None:
        # the warm-up runs the same jobs on the 1x copy: the same code
        # paths compile and JIT-warm on an eighth of the data
        super().begin_pass(spark, pass_dir, warm)
        self.input_dir = self.sf_dir if warm else self.x8_dir

    def requests(self, seed: int) -> list:
        rng = random.Random(seed)
        order = sorted(ETL_PARAMS)
        rng.shuffle(order)
        return [(job, rng.choice(ETL_PARAMS[job])) for job in order]

    def run(self, spark, req, tr):
        from magi_etl_spark import jobs

        job, params = req
        out = os.path.join(self.pass_dir, job)
        ns = argparse.Namespace(data_dir=self.input_dir, out=out, **params)
        return getattr(jobs, f"run_{job}")(spark, ns)

    def capture(self, spark, req, out, tr) -> dict:
        import pyarrow.parquet as pq

        job, params = req
        with open(out["summary"]) as f:
            summary = json.load(f)
        rows = nbytes = 0
        for name, path in out.items():
            if name == "summary":
                continue
            nbytes += dir_bytes(path)
            rows += sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return {"key": params_id(job, params), "job": job,
                "digest": summary_digest(summary),
                "rows_written": rows, "bytes_written": nbytes}

    def check(self, spark, records):
        with open(DIGESTS_FILE) as f:
            pinned = json.load(f)
        return [
            None if pinned.get(rec["key"]) == rec["digest"]
            else f"summary digest {rec['digest']} is not the pinned one"
            for rec, _ in records
        ]


WORKLOADS = {w.name: w for w in (Dashboard, Iterative, EtlX8)}

