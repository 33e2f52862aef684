"""The workloads: set-up, one timed op, and output checks.

Each workload lands its generated inputs in ``setup``, warms the
program up, and then ``op`` is run in a closed loop (one client, the
next op starts when the previous one ends). Every call into the
package goes through ``tracer.span`` named after the package layer.
"""

from __future__ import annotations

import json
import math

import gen
from spans import Tracer, median, p90, scanned_segments

RAW = [f"raw_openf1_{t}_{leg}" for t in gen.TABLES
       for leg in ("historical", "realtime")]
MARTS = ["fct_driver_laps", "fct_driver_race_summary", "final_f1"]
# the marts a dashboard reads for one session: the driver summary
# (unpartitioned, stats-pruned) and its laps (season-partitioned)
DASHBOARD = ["fct_driver_race_summary", "fct_driver_laps"]
# untimed ops run in set-up: the first ones run slower (JIT, codegen
# caches, first commits), and their cost belongs in setup_s
WARMUP_OPS = 2


def _land(spark, tracer: Tracer, archive: gen.Archive, raw_dir: str) -> None:
    """Historical records append into session-keyed manifest tables;
    the realtime tables are created by the first op's poll."""
    from formula1_data_pipeline_spark.sources.openf1 import records_to_raw_df
    from formula1_data_pipeline_spark.sources.txn import txn_append

    for t in gen.TABLES:
        records = archive.raw[f"{t}_historical"]
        with tracer.span("openf1.records_to_raw_df", rows=len(records)):
            df = records_to_raw_df(spark, records)
        with tracer.span("txn.append"):
            txn_append(spark, df, f"{raw_dir}/raw_openf1_{t}_historical",
                       key="session_key")


def _sources(spark, tracer: Tracer, raw_dir: str) -> dict:
    from formula1_data_pipeline_spark.sources.txn import read_table

    out = {}
    for name in RAW:
        with tracer.span("txn.read_table"):
            out[name] = read_table(spark, f"{raw_dir}/{name}")
    return out


def expected_laps(archive: gen.Archive) -> dict[tuple, tuple]:
    """(meeting, session, driver) -> (lap count, best lap time) computed
    by DuckDB straight from the generated records: sentinel scrub,
    not-null grain, realtime beats historical, latest realtime record
    per lap wins."""
    import duckdb
    import pandas as pd

    cols = ["meeting_key", "session_key", "driver_number", "lap_number",
            "date_start", "lap_duration"]

    def frame(rows):
        def cell(v):
            return None if v is None else str(v)
        return pd.DataFrame([[cell(r.get(c)) for c in cols] for r in rows],
                            columns=cols, dtype=object)

    con = duckdb.connect()
    try:
        con.register("h", frame(archive.raw["laps_historical"]))
        con.register("r", frame(archive.raw["laps_realtime"]))
        sent = ", ".join(f"'{s}'" for s in gen.SENTINELS)

        def clean(c):
            return f"CASE WHEN trim({c}) IN ({sent}) THEN NULL ELSE {c} END"

        keyed = ", ".join(f"{clean(c)} AS {c}" for c in cols)
        rows = con.execute(f"""
            WITH u AS (
              SELECT {keyed}, 0 AS rt FROM h
              UNION ALL SELECT {keyed}, 1 AS rt FROM r),
            v AS (
              SELECT CAST(meeting_key AS INT) mk, CAST(session_key AS INT) sk,
                     CAST(driver_number AS INT) drv,
                     CAST(lap_number AS INT) lap, date_start, rt,
                     TRY_CAST(lap_duration AS DOUBLE) t
              FROM u WHERE meeting_key IS NOT NULL AND session_key IS NOT NULL
                AND driver_number IS NOT NULL AND lap_number IS NOT NULL),
            w AS (
              SELECT *, row_number() OVER (PARTITION BY mk, sk, drv, lap
                ORDER BY rt DESC, date_start DESC) rn FROM v)
            SELECT mk, sk, drv, count(*), min(t) FROM w WHERE rn = 1
            GROUP BY mk, sk, drv""").fetchall()
    finally:
        con.close()
    return {(mk, sk, drv): (n, best) for mk, sk, drv, n, best in rows}


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


class SeasonRebuild:
    """Multi-season archive landed once. Each op is one cycle of the
    reference's two legs: the realtime leg re-sends the latest session
    (ingest edge + delete+reload sink), then ``dbt run`` (full
    materialized REGISTRY.run, three marts committed), ``dbt test``
    (assertions_report, collected) and the dashboard reads of the
    latest session from two marts (read_table with a session prune,
    collected)."""

    name = "season_rebuild"
    SEASONS, MEETINGS = 2, 1

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.raw_dir, self.mart_dir = f"{work}/raw", f"{work}/marts"
        self.archive = gen.season_archive(seed, self.SEASONS, self.MEETINGS)
        # the last race: its realtime records are re-sent every op
        self.sk = self.archive.sessions[-2].session_key
        self.last = None
        self.items_per_op = 0  # fct_driver_laps rows, known after check()
        self.summary_rows = -1
        self.reads_ms: list[float] = []
        self.poll_ms: list[float] = []

    def tables(self) -> list[str]:
        return [f"{self.raw_dir}/{n}" for n in RAW] + \
            [f"{self.mart_dir}/{m}" for m in MARTS]

    def input_bytes(self) -> int:
        return self.archive.json_bytes()

    def sizes(self) -> dict:
        return {"rows": self.archive.row_counts(),
                "sessions": len(self.archive.sessions),
                "json_bytes": self.input_bytes()}

    def setup(self) -> None:
        _land(self.spark, self.tracer, self.archive, self.raw_dir)
        for _ in range(WARMUP_OPS):
            self.op()
        self.reads_ms.clear()
        self.poll_ms.clear()

    def op(self) -> bool:
        import time

        from pyspark.sql import functions as F

        from formula1_data_pipeline_spark.plans.assertions import (
            assertions_report,
        )
        from formula1_data_pipeline_spark.plans.models import REGISTRY
        from formula1_data_pipeline_spark.sources.openf1 import (
            records_to_raw_df,
        )
        from formula1_data_pipeline_spark.sources.sinks import replace_by_key
        from formula1_data_pipeline_spark.sources.txn import read_table

        t, spark = self.tracer, self.spark
        p0 = time.perf_counter()
        for name in gen.TABLES:
            records = self.archive.raw[f"{name}_realtime"]
            with t.span("openf1.records_to_raw_df", rows=len(records)):
                df = records_to_raw_df(spark, records)
            with t.span("sinks.replace_by_key"):
                replace_by_key(df, f"{self.raw_dir}/raw_openf1_{name}_realtime",
                               key="session_key")
        self.poll_ms.append((time.perf_counter() - p0) * 1000.0)
        sources = _sources(spark, t, self.raw_dir)
        with t.span("registry.run"):
            built = REGISTRY.run(spark, sources, materialize_to=self.mart_dir)
        with t.span("assertions.report") as s:
            report = assertions_report(built).collect()
            s.counts["checks"] = len(report)
        self.last = built
        for m in DASHBOARD:
            r0 = time.perf_counter()
            with t.span("txn.read_table") as s:
                df = read_table(spark, f"{self.mart_dir}/{m}",
                                prune={"session_key": (self.sk, self.sk)}) \
                    .filter(F.col("session_key") == self.sk)
                rows = df.collect()
            self.reads_ms.append((time.perf_counter() - r0) * 1000.0)
            if t.traced:
                s.counts.update(scanned_segments(f"{self.mart_dir}/{m}", df))
            if m == "fct_driver_race_summary":
                self.summary_rows = len(rows)
        return bool(report) and all(r["passed"] for r in report) \
            and self.summary_rows > 0

    def report(self, op_ms: list[float]) -> list[str]:
        """This workload's own names for its timings."""
        reb = [s.dur for s in self.tracer.of("registry.run")]
        tst = [s.dur for s in self.tracer.of("assertions.report")]
        p, r = self.poll_ms, self.reads_ms
        return [f"rebuild_s = {median(reb):.4f} s (n={len(reb)})",
                f"test_s = {median(tst):.4f} s (n={len(tst)})",
                f"poll_p50_ms = {median(p):.1f} ms (n={len(p)})",
                f"read_p50_ms = {median(r):.1f} ms (n={len(r)})",
                f"read_p90_ms = {p90(r):.1f} ms (n={len(r)})",
                f"laps_per_s = items_per_s ({self.items_per_op} "
                "fct_driver_laps rows per op)"]

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        want = expected_laps(self.archive)
        fct = self.last["fct_driver_laps"]
        got = {
            (r[0], r[1], r[2]): (r[3], r[4])
            for r in fct.groupBy("meeting_key", "session_key",
                                 "driver_number")
            .agg(F.count("*"), F.min("lap_time")).collect()
        }
        self.items_per_op = sum(n for n, _ in got.values())
        errs = []
        if self.items_per_op != sum(n for n, _ in want.values()):
            errs.append(f"fct_driver_laps has {self.items_per_op} rows, "
                        f"expected {sum(n for n, _ in want.values())}")
        bad = [k for k in set(want) | set(got)
               if k not in want or k not in got
               or want[k][0] != got[k][0] or not _same(want[k][1], got[k][1])]
        if bad:
            k = sorted(bad)[0]
            errs.append(f"{len(bad)} driver-sessions differ from DuckDB, "
                        f"e.g. {k}: {got.get(k)} vs {want.get(k)}")
        drivers = sum(1 for k in want if k[1] == self.sk)
        if self.summary_rows != drivers:
            errs.append(f"dashboard read of session {self.sk} returned "
                        f"{self.summary_rows} summary rows, expected "
                        f"{drivers}")
        return errs


class CorpusDedup:
    """Planted-duplicate corpus written once as parquet; each op runs
    exact dedup, MinHash-LSH candidates and SimHash near-dup clustering
    to completion."""

    name = "corpus_dedup"
    DOCS, EXACT_GROUPS, NEAR_DUPS = 2000, 160, 320
    JACCARD = 0.8
    RECALL_FLOOR = 0.9

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.corpus = gen.corpus(seed, self.DOCS,
                                 exact_groups=self.EXACT_GROUPS,
                                 near_dups=self.NEAR_DUPS)
        self.path = f"{work}/corpus"
        self.items_per_op = len(self.corpus.docs)
        self.results: list[dict] = []

    def tables(self) -> list[str]:
        return []

    def input_bytes(self) -> int:
        return self.corpus.json_bytes()

    def sizes(self) -> dict:
        return {"docs": len(self.corpus.docs),
                "exact_groups": self.corpus.exact_groups,
                "near_pairs": len(self.corpus.near_pairs),
                "json_bytes": self.input_bytes()}

    def setup(self) -> None:
        import pandas as pd

        pdf = pd.DataFrame(self.corpus.docs, columns=["doc_id", "text"])
        self.spark.createDataFrame(pdf).write.parquet(self.path)
        for _ in range(WARMUP_OPS):
            self.op()
        self.results.clear()

    def op(self) -> bool:
        from pyspark.sql import functions as F

        from formula1_data_pipeline_spark.operators.cluster import (
            neardup_clusters,
        )
        from formula1_data_pipeline_spark.operators.dedup import (
            exact_dedup_groups,
            minhash_lsh_candidates,
        )

        t = self.tracer
        docs = self.spark.read.parquet(self.path)
        with t.span("dedup.exact_groups"):
            exact = exact_dedup_groups(docs).filter(F.col("n_dups") > 1) \
                .count()
        with t.span("dedup.minhash_lsh") as s:
            useful = F.col("jaccard") >= self.JACCARD
            row = minhash_lsh_candidates(docs).agg(
                F.count("*").alias("n"),
                F.count(F.when(useful, 1)).alias("useful"),
                F.collect_list(F.when(useful, F.struct("a_id", "b_id")))
                .alias("pairs"),
            ).first()
            s.counts.update(candidates=row["n"], useful=row["useful"])
        with t.span("cluster.neardup"):
            clusters = neardup_clusters(docs).filter(
                F.col("cluster_size") > 1
            ).select("cluster_id").distinct().count()
        found = {(min(p[0], p[1]), max(p[0], p[1])) for p in row["pairs"]}
        near = self.corpus.near_pairs
        recall = sum((min(a, b), max(a, b)) in found for a, b in near) \
            / len(near)
        res = {"exact_groups": exact, "candidates": row["n"],
               "useful": row["useful"], "recall": recall,
               "clusters": clusters}
        self.results.append(res)
        return exact == self.corpus.exact_groups and \
            recall >= self.RECALL_FLOOR

    def report(self, op_ms: list[float]) -> list[str]:
        return [f"dedup_s = {median(op_ms) / 1000.0:.4f} s (n={len(op_ms)})",
                f"docs_per_s = items_per_s ({self.items_per_op} docs per op)",
                "results " + json.dumps(self.results[-1:])]

    def check(self) -> list[str]:
        errs = []
        for r in self.results:
            if r["exact_groups"] != self.corpus.exact_groups:
                errs.append(f"{r['exact_groups']} exact groups, planted "
                            f"{self.corpus.exact_groups}")
            if r["recall"] < self.RECALL_FLOOR:
                errs.append(f"near-duplicate recall {r['recall']:.3f} < "
                            f"{self.RECALL_FLOOR}")
        return errs[:3]


WORKLOADS = {w.name: w for w in (SeasonRebuild, CorpusDedup)}
