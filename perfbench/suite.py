"""The ``suite`` workload: the 22 ``bench.HEADLINE`` queries.

Set-up (timed as ``setup_s``): start the session; build the LSH and IVF
indexes that q42/q62 search, as ``bench.py`` does; then the warm-up,
which runs every query once and checks its answer against the DuckDB
oracle, then runs ``WARMUP_PASSES`` untimed batched passes into the
noop sink.

Measurement (closed loop for ``--seconds``, at least ``MIN_ROUNDS``
rounds): each round is a batched pass with ``nproc`` client threads
sharing one FAIR pool, then a serial pass with one client. Every query
runs builder-plus-action into the noop sink, as in ``bench.py``.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import box
import stats
import tables
from spans import Probe, Tracer

#: Pass times keep falling for many passes after the answers are checked,
#: while the JVM compiles: after three warm-up passes, the third measured
#: serial pass was still up to 33% faster than the first. Batched passes
#: warm the same code four queries at a time, so the warm-up uses them.
WARMUP_PASSES = 8
#: each query's latency is the median of its serial samples, one a round
MIN_ROUNDS = 2
INDEX_TABLES = ("perfbench_lsh_index", "perfbench_ivf_index")


def prepare(seed: int) -> str:
    return box.cached(f"tables-seed{seed}", lambda out: tables.write(seed, out))


def headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def oracle_answers(data_dir: str, names: list[str], specs) -> dict:
    """DuckDB answers of every query, cached beside the data."""
    cache = os.path.join(data_dir, "oracle.pkl")
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            answers = pickle.load(f)
        if set(names) <= set(answers):
            return answers
    import duckdb

    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    answers = {n: con.execute(specs[n].oracle).fetchdf() for n in names}
    con.close()
    tmp = f"{cache}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(answers, f)
    os.replace(tmp, cache)
    return answers


def _checker():
    """``tools/check_correctness.py``'s strict comparison."""
    import importlib.util

    path = box.ROOT / "tools" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._cmp


def build_indexes(spark, data_dir: str) -> dict:
    """Prebuilt LSH/IVF indexes and the q42/q62 builders that search
    them, as in ``bench.py``: the index, the request vectors and the
    centroid matrix are built here, outside the timed queries."""
    import pandas as pd
    from pyspark.sql import functions as F

    from big_data_bowl_2026_analytics_spark.operators.bucketing import write_bucketed
    from big_data_bowl_2026_analytics_spark.operators.ivf import (
        ivf_index,
        ivf_topk_indexed,
        seed_centroids,
    )
    from big_data_bowl_2026_analytics_spark.operators.similarity import (
        ann_index,
        ann_topk_indexed,
    )
    from big_data_bowl_2026_analytics_spark.sources.readers import read_table

    for tbl in INDEX_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(box.WORK / "warehouse" / tbl, ignore_errors=True)

    def local_frame(rows, schema):
        return spark.createDataFrame(
            pd.DataFrame([r.asDict() for r in rows]), schema=schema
        )

    emb = read_table(spark, data_dir, "embeddings")
    write_bucketed(ann_index(emb), INDEX_TABLES[0], ["bucket"], n_buckets=8)
    lsh = spark.table(INDEX_TABLES[0])
    lsh_q = (lsh.where(F.col("vec_id") < 3).collect(), lsh.schema)
    cents = seed_centroids(emb, 8).collect()
    write_bucketed(ivf_index(emb, cents), INDEX_TABLES[1], ["cluster_id"], n_buckets=8)
    ivf = spark.table(INDEX_TABLES[1])
    ivf_q = (ivf.where(F.col("vec_id") < 3).collect(), ivf.schema)

    def q42(spark, sf_dir):
        return ann_topk_indexed(spark.table(INDEX_TABLES[0]), local_frame(*lsh_q), k=3)

    def q62(spark, sf_dir):
        return ivf_topk_indexed(
            spark.table(INDEX_TABLES[1]), local_frame(*ivf_q), cents, k=3, nprobe=2
        )

    return {"q42_ann_topk_lsh": q42, "q62_ivf_topk": q62}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Suite:
    @staticmethod
    def prepare(seed: int) -> None:
        from big_data_bowl_2026_analytics_spark.plans import all_queries

        oracle_answers(prepare(seed), headline(), all_queries())

    def __init__(self, seed: int) -> None:
        self.clients = box.nproc()
        self.data = prepare(seed)
        from big_data_bowl_2026_analytics_spark.plans import all_queries

        self.specs = all_queries()
        self.names = headline()
        self.answers = oracle_answers(self.data, self.names, self.specs)
        self.spark = None
        self.builders: dict = {}
        self.tally = stats.Tally()
        self.setup: dict[str, float] = {}
        self.detail: dict = {}

    # -- set-up ---------------------------------------------------------
    def set_up(self) -> None:
        t0 = time.perf_counter()
        self.spark = box.start_session()
        session = time.perf_counter() - t0
        t0 = time.perf_counter()
        indexed = build_indexes(self.spark, self.data)
        index = time.perf_counter() - t0
        self.builders = {n: indexed.get(n, self.specs[n].builder) for n in self.names}
        t0 = time.perf_counter()
        self.verify()
        for _ in range(WARMUP_PASSES):
            self.batched_pass()
        warmup = time.perf_counter() - t0
        self.setup = {
            "session_s": session,
            "index_build_s": index,
            "warmup_s": warmup,
            "setup_s": session + index + warmup,
        }

    def verify(self) -> None:
        """Run each query once, on the batched phase's client threads,
        and compare it with its oracle answer."""
        cmp = _checker()

        def check(name: str) -> None:
            self.tally.attempt()
            try:
                got = self.builders[name](self.spark, self.data).toPandas()
                strict, _, detail = cmp(got, self.answers[name])
                if not strict:
                    self.tally.fail(name, f"oracle mismatch: {detail}")
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                self.tally.fail(name, f"{type(exc).__name__}: {exc}")

        with ThreadPoolExecutor(max_workers=self.clients) as pool:
            list(pool.map(check, self.names))

    # -- measurement ----------------------------------------------------
    def _run(self, name: str) -> float:
        t0 = time.perf_counter()
        self.tally.attempt()
        try:
            _noop(self.builders[name](self.spark, self.data))
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            self.tally.fail(name, f"{type(exc).__name__}: {exc}")
        return time.perf_counter() - t0

    def serial_pass(self) -> dict[str, float]:
        return {name: self._run(name) for name in self.names}

    def batched_pass(self) -> float:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=self.clients) as pool:
            list(pool.map(self._run, self.names))
        return time.perf_counter() - t0

    def traced_pass(self, tr: Tracer, probe: Probe) -> float:
        """One serial pass with a span per builder call, action and
        Catalyst total, and the probe's counters on each."""
        with tr.span("pass", "suite") as p:
            for name in self.names:
                self.tally.attempt()
                with tr.span("op", name) as op:
                    gid_build = probe.group("build")
                    try:
                        with tr.span("plans", name) as plan:
                            df = self.builders[name](self.spark, self.data)
                        gid_exec = probe.group("exec")
                        with tr.span("exec", name) as ex:
                            _noop(df)
                    except Exception as exc:  # noqa: BLE001 - counted, not raised
                        self.tally.fail(name, f"{type(exc).__name__}: {exc}")
                        continue
                probe.drain()
                tr.child(ex, "catalyst", name, probe.catalyst_s())
                plan["attrs"]["jobs"] = probe.jobs(gid_build)
                if plan["attrs"]["jobs"].get("wall_s"):
                    tr.child(plan, "exec", name, plan["attrs"]["jobs"]["wall_s"])
                ex["attrs"]["jobs"] = probe.jobs(gid_exec)
                ex["attrs"]["sql"] = probe.sql()
                op["attrs"]["storage"] = probe.storage()
        return p["dur"]

    def measure(self, seconds: float) -> dict[str, float]:
        """Closed loop of rounds, at least ``MIN_ROUNDS``: a batched pass,
        then a serial pass, so both phases see the same box
        conditions."""
        samples: dict[str, list[float]] = {n: [] for n in self.names}
        batched: list[float] = []
        end = time.perf_counter() + seconds
        while len(batched) < MIN_ROUNDS or time.perf_counter() < end:
            batched.append(self.batched_pass())
            for name, dt in self.serial_pass().items():
                samples[name].append(dt)
        flat = [dt for xs in samples.values() for dt in xs]
        medians = {n: stats.median(xs) for n, xs in samples.items()}
        self.detail = {
            "serial_passes_s": [sum(p) for p in zip(*samples.values())],
            "batched_passes_s": batched,
            "query_median_s": medians,
            "op_samples": len(flat),
            "op_p50_ms": 1e3 * stats.percentile(flat, 0.5),
        }
        return {
            "pass_s": stats.median(batched),
            "op_mean_ms": 1e3 * sum(medians.values()) / len(medians),
        }

    def measure_traced(self, seconds: float, tr: Tracer) -> dict:
        """Alternate untraced and traced serial passes."""
        probe = Probe(self.spark)
        plain, traced = [], []
        end = time.perf_counter() + seconds
        while not traced or time.perf_counter() < end:
            t0 = time.perf_counter()
            self.serial_pass()
            plain.append(time.perf_counter() - t0)
            with probe.active():
                traced.append(self.traced_pass(tr, probe))
        return {"passes": len(traced), "overhead": stats.median(traced) / stats.median(plain)}
