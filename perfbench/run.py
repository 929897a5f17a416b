#!/usr/bin/env python3
"""Benchmark of the ETL write path and the analyst read path.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout.  It starts one Spark session
(``local[nproc]``, the engine's own ``get_spark`` defaults), builds its
inputs from ``--seed``, measures one workload for ``--seconds`` seconds
of operations, checks every output, and prints as its last line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see README.md).  Work files, span dumps and the
run report go to ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

T_PROCESS = time.time()
LOAD1_AT_START = os.getloadavg()[0]

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
HERE = Path(__file__).resolve().parent

#: patients in the etl_write input and in the analyst_sql ETL input
ETL_PATIENTS = 1000
SQL_PATIENTS = 1000
#: the analyst workload's ETL input is a partial Synthea export (the
#: pipeline skips absent optional sources)
SQL_TABLES = ("patients", "encounters", "conditions")
MAX_ROWS = 1000
SQL_WARM_SECONDS = 3.0

#: query_achilles_results.sh-style analyst SQL over the OMOP layers, the
#: Achilles results and the DQD results; every ORDER BY is total
SQL_MIX = {
    "demographics": (
        "SELECT stratum_1 AS gender_concept_id, count_value FROM achilles_results "
        "WHERE analysis_id = 2 ORDER BY stratum_1"),
    "birth_years": (
        "SELECT CAST(stratum_1 AS INT) AS year_of_birth, count_value "
        "FROM achilles_results WHERE analysis_id = 3 ORDER BY year_of_birth"),
    "top_conditions": (
        "SELECT condition_source_value, COUNT(*) AS n, COUNT(DISTINCT person_id) AS persons "
        "FROM condition_occurrence GROUP BY condition_source_value "
        "ORDER BY n DESC, condition_source_value LIMIT 10"),
    "condition_eras": (
        "SELECT condition_era_exposure_count AS exposures, COUNT(*) AS n FROM condition_era "
        "GROUP BY condition_era_exposure_count ORDER BY exposures"),
    "conditions_by_age": (
        "SELECT FLOOR((YEAR(c.condition_start_date) - p.year_of_birth) / 10) AS age_decile, "
        "COUNT(*) AS n FROM condition_occurrence c JOIN person p ON c.person_id = p.person_id "
        "GROUP BY FLOOR((YEAR(c.condition_start_date) - p.year_of_birth) / 10) "
        "ORDER BY age_decile"),
    "visit_length": (
        "SELECT visit_source_value, COUNT(*) AS n, "
        "MIN(DATEDIFF(visit_end_date, visit_start_date)) AS min_days, "
        "MAX(DATEDIFF(visit_end_date, visit_start_date)) AS max_days, "
        "ROUND(AVG(DATEDIFF(visit_end_date, visit_start_date)), 4) AS avg_days "
        "FROM visit_occurrence GROUP BY visit_source_value ORDER BY visit_source_value"),
    "period_length_dist": (
        "SELECT analysis_id, count_value, min_value, max_value, median_value "
        "FROM achilles_results_dist WHERE analysis_id = 105 ORDER BY analysis_id"),
    "yearly_conditions": (
        "SELECT YEAR(condition_start_date) AS yr, COUNT(*) AS n FROM condition_occurrence "
        "GROUP BY YEAR(condition_start_date) ORDER BY yr"),
    "dq_counts": (
        "SELECT category, COUNT(*) AS checks, SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS failed "
        "FROM dqd_results GROUP BY category ORDER BY category"),
    "analysis_rows": (
        "SELECT analysis_id, COUNT(*) AS n_rows, SUM(count_value) AS total "
        "FROM achilles_results GROUP BY analysis_id ORDER BY analysis_id LIMIT 50"),
}


def _prepare_environment(run_dir: Path) -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(tmp)


class Host:
    """Host telemetry: nproc, master, load1 before each operation."""

    def __init__(self, master: str, load1_at_start: float):
        self.nproc = os.cpu_count() or 1
        self.master = master
        self.load1_at_start = load1_at_start
        self.load1: list[float] = []

    def sample(self) -> None:
        self.load1.append(os.getloadavg()[0])

    def report(self) -> dict:
        load = self.load1 or [os.getloadavg()[0]]
        # the run's own Spark work keeps load1 near nproc during the ops,
        # so the flag looks at the reading taken before the run started
        return {"nproc": self.nproc, "master": self.master,
                "load1_at_start": self.load1_at_start,
                "load1_samples": len(load), "load1_median": statistics.median(load),
                "load1_max": max(load), "loaded": self.load1_at_start > self.nproc}


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident memory of this process plus the driver JVM."""
    total = 0.0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


# ------------------------------------------------------------ checks ---

def omop_summaries(spark, out_dirs: list[str]) -> list[dict[str, list]]:
    """For each output dir: table -> [rows, order-independent content
    hash] of every omop_* layer in it.  One Spark job for all dirs."""
    from pyspark.sql import functions as F

    parts = []
    for i, out_dir in enumerate(out_dirs):
        for name in sorted(os.listdir(out_dir)):
            if not name.startswith("omop_"):
                continue
            df = spark.read.parquet(os.path.join(out_dir, name))
            h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
            parts.append(df.agg(F.lit(i).alias("i"), F.lit(name).alias("t"),
                                F.count(F.lit(1)).alias("n"),
                                F.coalesce(F.sum(h), F.lit(0)).cast("string").alias("h")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    found: list[dict[str, list]] = [{} for _ in out_dirs]
    for r in out.collect():
        found[r["i"]][r["t"]] = [r["n"], r["h"]]
    return found


def expected_counts(n: int, deaths: int, tables: tuple[str, ...]) -> dict[str, int]:
    """OMOP rows that follow from the generator's row counts alone; a key
    ``a+b`` is the sum of two layers (observations split in two)."""
    from inputs import table_rows

    src = table_rows(n)
    exp = {"omop_person": n, "omop_observation_period": n, "omop_death": deaths}
    for raw, omop in (("encounters", "omop_visit_occurrence"),
                      ("conditions", "omop_condition_occurrence"),
                      ("procedures", "omop_procedure_occurrence"),
                      ("devices", "omop_device_exposure"),
                      ("providers", "omop_provider"),
                      ("organizations", "omop_care_site"),
                      ("observations", "omop_measurement+omop_observation")):
        if raw in tables:
            exp[omop] = src[raw]
    if "medications" in tables:
        exp["omop_drug_exposure"] = src["medications"] + (
            src["immunizations"] if "immunizations" in tables else 0)
    return exp


def summary_problems(summary: dict, expected: dict[str, int]) -> list[str]:
    bad = []
    for key, n in expected.items():
        got = sum(summary.get(t, [0])[0] for t in key.split("+"))
        if got != n:
            bad.append(f"{key}: {got} rows, expected {n}")
    return bad


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return size, files


# ------------------------------------------------------------- bench ---

class Bench:
    def __init__(self, args, run_dir: Path):
        from spans import Recorder

        from synthea2omop_etl_spark.session import get_spark

        self.args = args
        self.run_dir = run_dir
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        self.sc = self.spark.sparkContext
        self.jvm_pid = getattr(getattr(self.sc._gateway, "proc", None), "pid", None)
        self.host = Host(self.sc.master, LOAD1_AT_START)
        self.rec = Recorder(self.sc, enabled=bool(args.trace))
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {"jvm": time.time() - T_PROCESS}
        self.t_window = time.time()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one set-up phase, for the run report."""
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = time.time() - t0

    # -------------------------------------------------------- etl_write
    def etl_targets(self):
        import pyspark.sql.readwriter as rw

        import synthea2omop_etl_spark.derived.location as loc_mod
        import synthea2omop_etl_spark.plans.pipeline as pl

        targets = [(pl, "apply_typing", "typing.apply_typing"),
                   (pl, "build_id_map", "idmap.build_id_map")]
        for fn in ("care_site", "condition_occurrence", "device_exposure",
                   "drug_exposure", "measurement_and_observation",
                   "payer_plan_period", "person", "procedure_occurrence",
                   "provider", "visit_occurrence"):
            targets.append((pl, fn, f"domains.{fn}"))
        for fn in ("death", "observation_period", "cost", "condition_era",
                   "drug_era"):
            targets.append((pl, fn, f"derived.{fn}"))
        targets.append((loc_mod, "location", "derived.location"))
        targets.append((rw.DataFrameWriter, "parquet", "writers.parquet"))
        return targets

    def run_etl(self, raw, out_dir: str, traced: bool, op: str) -> None:
        from spans import patched

        from synthea2omop_etl_spark.plans.pipeline import run_pipeline

        self.rec.trace_id = op
        with patched(self.rec if traced else None, self.etl_targets()):
            with self.rec.span("pipeline.run") if traced else contextlib.nullcontext():
                run_pipeline(self.spark, raw, output_dir=out_dir)

    def etl_write(self) -> dict:
        from inputs import ALL_TABLES, write_raw_tables

        args = self.args
        with self.phase("inputs"):
            paths = write_raw_tables(ETL_PATIENTS, args.seed, str(self.run_dir / "raw"))
            raw = {k: self.spark.read.parquet(p) for k, p in paths.items()}
            deaths = raw["patients"].where("DEATHDATE <> ''").count()
        expected = expected_counts(ETL_PATIENTS, deaths, ALL_TABLES)
        # untimed pilot: the first run pays JIT and codegen compilation
        pilot_dir = str(self.run_dir / "pilot")
        with self.phase("pilot_etl"):
            self.run_etl(raw, pilot_dir, False, "pilot")

        self.t_window = time.time()
        lat, outs, failed = [], [], 0
        while not lat or sum(lat) < args.seconds:
            self.host.sample()
            out = str(self.run_dir / f"etl{len(lat)}")
            t0 = time.perf_counter()
            try:
                self.run_etl(raw, out, bool(args.trace), f"op{len(lat)}")
                outs.append((len(lat), out))
            except Exception as exc:  # a failed op is counted, not fatal
                failed += 1
                self.problems.append(f"etl op{len(lat)} raised {exc!r:.300}")
            lat.append(time.perf_counter() - t0)
        t_end = time.time()

        # every op must reproduce the pilot, which must match the inputs
        pilot, *got = omop_summaries(self.spark, [pilot_dir, *(out for _, out in outs)])
        self.problems += [f"pilot {p}" for p in summary_problems(pilot, expected)]
        for (i, _), summary in zip(outs, got):
            if summary != pilot:
                failed += 1
                diff = sorted(t for t in set(summary) | set(pilot)
                              if summary.get(t) != pilot.get(t))
                self.problems.append(f"etl op{i}: output differs from pilot in {diff}")
        if args.trace and outs:
            self.etl_layers(outs, pilot, lat, raw, t_end)
        return {"lat": lat, "wall": t_end - self.t_window, "failed": failed}

    def etl_layers(self, outs, pilot, lat, raw, t_end) -> None:
        from inputs import table_rows
        from spans import self_times

        spans = self.rec.spans
        selfs = self_times(spans)
        per_op = []
        for i, out in outs:
            op = [s for s in spans if s["trace"] == f"op{i}"]
            m = {f"{layer}.plan_s": 0.0 for layer in ("typing", "idmap", "domains", "derived")}
            m["pipeline.main_self_s"] = 0.0
            m["writers.write_s"] = 0.0
            for s in op:
                if s["layer"] in ("typing", "idmap", "domains", "derived"):
                    m[f"{s['layer']}.plan_s"] += selfs[s["id"]]
                elif s["name"] == "pipeline.run":
                    m["pipeline.main_self_s"] += selfs[s["id"]]
                    m["etl.traced_s"] = s["end"] - s["start"]
                elif s["layer"] == "writers":
                    m["writers.write_s"] += s["end"] - s["start"]
            m["etl.layer_sum_s"] = sum(
                m[k] for k in ("typing.plan_s", "idmap.plan_s", "domains.plan_s",
                               "derived.plan_s", "pipeline.main_self_s"))
            m["writers.bytes_out"], m["writers.files_out"] = _dir_bytes_files(out)
            per_op.append(m)
        for k in per_op[0]:
            self.layer[k] = statistics.median(m[k] for m in per_op)
        rows_in = sum(table_rows(ETL_PATIENTS).values())
        self.layer["etl.rows_out_per_row_in"] = sum(v[0] for v in pilot.values()) / rows_in
        self.spark_counts("etl_write", len(lat), t_end)
        # tracing overhead: one more op with every wrapper removed
        t0 = time.perf_counter()
        self.run_etl(raw, str(self.run_dir / "untraced"), False, "untraced")
        t_untraced = time.perf_counter() - t0
        self.layer["trace.overhead_ms"] = (statistics.median(lat) - t_untraced) * 1000

    # ------------------------------------------------------ analyst_sql
    def characterize(self, omop_dir: str) -> dict:
        """Achilles catalog + its two writes, then validate's checks and
        the DQD checks over the written OMOP layers."""
        from synthea2omop_etl_spark.analytics import run_default_analyses
        from synthea2omop_etl_spark.validate import (
            check_date_ranges,
            check_demographics,
            check_record_counts,
            check_referential_integrity,
            run_dqd_checks,
            validate,
        )

        spark = self.spark
        omop = {e: spark.read.parquet(os.path.join(omop_dir, e))
                for e in sorted(os.listdir(omop_dir)) if e.startswith("omop_")}
        with self.rec.span("achilles.plan"):
            results, dists = run_default_analyses(omop)
        if self.args.trace:
            with self.rec.span("achilles.physplan"):
                results._jdf.queryExecution().executedPlan()
                dists._jdf.queryExecution().executedPlan()
        res_dir = self.run_dir / "results"
        with self.rec.span("achilles.exec"):
            results.write.mode("overwrite").parquet(str(res_dir / "achilles_results"))
            dists.write.mode("overwrite").parquet(str(res_dir / "achilles_results_dist"))
        t = {k.removeprefix("omop_"): v for k, v in omop.items()}
        with self.rec.span("validate.exec"):
            checks = [
                check_record_counts(t),
                check_referential_integrity(
                    {n: (df, "person_id") for n, df in t.items()
                     if "person_id" in df.columns and n != "person"},
                    t["person"]),
                check_date_ranges({"visit_occurrence": (
                    t["visit_occurrence"], "visit_start_date", "visit_end_date")}),
                check_demographics(t["person"]),
            ]
            report = validate(checks)
            dqd = run_dqd_checks(t, t["person"], spark)
            dqd.write.mode("overwrite").parquet(str(res_dir / "dqd_results"))
        for name in ("achilles_results", "achilles_results_dist", "dqd_results"):
            t[name] = spark.read.parquet(str(res_dir / name))
        self.check_achilles(omop_dir, t["achilles_results"], report)
        return t

    def check_achilles(self, omop_dir: str, results, report: dict) -> None:
        """Rows per analysis id against DuckDB over the person layer."""
        import duckdb

        from synthea2omop_etl_spark.analytics.achilles_default_ids import default_grid

        got: dict[int, dict] = {}
        for r in results.where("analysis_id BETWEEN 1 AND 5").collect():
            got.setdefault(r["analysis_id"], {})[r["stratum_1"]] = r["count_value"]
        person = os.path.join(omop_dir, "omop_person", "*.parquet")
        con = duckdb.connect()
        try:
            for aid, col in ((1, None), (2, "gender_concept_id"), (3, "year_of_birth"),
                             (4, "race_concept_id"), (5, "ethnicity_concept_id")):
                if col is None:
                    sql = f"SELECT NULL, COUNT(*) FROM read_parquet('{person}')"
                else:
                    sql = (f"SELECT CAST({col} AS VARCHAR), COUNT(*) FROM "
                           f"read_parquet('{person}') GROUP BY 1")
                want = {k: int(v) for k, v in con.execute(sql).fetchall()}
                if got.get(aid) != want:
                    self.problems.append(f"achilles analysis {aid}: {got.get(aid)} != {want}")
        finally:
            con.close()
        ids = {r[0] for r in results.select("analysis_id").distinct().collect()}
        extra = ids - default_grid() - {0}
        if extra:
            self.problems.append(f"achilles emitted ids outside the default grid: {sorted(extra)}")
        if not report["checks"]["record_counts"]["passed"]:
            self.problems.append(f"validate record_counts failed: {report['checks']['record_counts']}")

    def serve_targets(self):
        """The serve layer's functions the handler calls by name, and the
        handler itself, whose span takes the client's request id."""
        import synthea2omop_etl_spark.serve as sv

        return [(sv, "_assert_readonly", "serve.readonly_check"),
                (sv, "run_sql", "serve.run_sql"),
                (sv, "_rows_json", "serve.collect"),
                (self._server.RequestHandlerClass, "do_POST", "serve.handle",
                 lambda handler: handler.headers.get("X-Trace-Id"))]

    def analyst_sql(self) -> dict:
        from inputs import write_raw_tables

        from synthea2omop_etl_spark.plans.pipeline import run_pipeline
        from synthea2omop_etl_spark.serve import create_server

        args, spark = self.args, self.spark
        with self.phase("inputs"):
            paths = write_raw_tables(SQL_PATIENTS, args.seed, str(self.run_dir / "raw"),
                                     SQL_TABLES)
            raw = {k: spark.read.parquet(p) for k, p in paths.items()}
            deaths = raw["patients"].where("DEATHDATE <> ''").count()
        omop_dir = str(self.run_dir / "omop")
        with self.phase("etl"):
            run_pipeline(spark, raw, output_dir=omop_dir)
        with self.phase("etl_check"):
            self.problems += summary_problems(
                omop_summaries(spark, [omop_dir])[0],
                expected_counts(SQL_PATIENTS, deaths, SQL_TABLES))
        with self.phase("characterize"):
            tables = self.characterize(omop_dir)

        # the answers, collected directly; this also warms the plans the
        # server runs
        from synthea2omop_etl_spark.analytics.achilles_lite import run_sql

        with self.phase("answers"):
            expected = {k: _norm_rows(run_sql(spark, sql, tables).limit(MAX_ROWS).collect())
                        for k, sql in SQL_MIX.items()}
        plan_file = str(self.run_dir / "plan.json")
        with open(plan_file, "w") as fh:
            json.dump({k: [sql, expected[k]] for k, sql in SQL_MIX.items()}, fh)
        server = self._server = create_server(spark, tables, max_rows=MAX_ROWS)
        srv = threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.05})
        srv.start()
        try:
            # untimed warm window: the first requests through the HTTP
            # path run ~1.5x slower than the rest
            warm = self.sql_window(plan_file, False, SQL_WARM_SECONDS)
            if warm["failed"]:
                self.problems.append(f"warm-up: {warm['failed']} requests failed")
            res = self.sql_window(plan_file, bool(args.trace), args.seconds)
            if args.trace:
                self.sql_layers(res)
                plain = self.sql_window(plan_file, False, max(2.0, args.seconds / 2))
                self.layer["trace.overhead_ms"] = (
                    statistics.median(res["lat"]) - statistics.median(plain["lat"])) * 1000
        finally:
            server.shutdown()
            server.server_close()
            srv.join()
        return res

    def sql_window(self, plan_file: str, traced: bool, seconds: float) -> dict:
        """``nproc`` closed-loop clients, in their own process, POST the
        mix for ``seconds``."""
        import subprocess

        from spans import patched

        cmd = [sys.executable, str(HERE / "clients.py"),
               "--port", str(self._server.server_address[1]),
               "--seconds", str(seconds), "--clients", str(self.host.nproc),
               "--seed", str(self.args.seed), "--plan", plan_file]
        with patched(self.rec if traced else None, self.serve_targets()):
            self.t_window = time.time()
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=seconds + 120, check=True).stdout
            t_end = time.time()
        report = json.loads(out)
        reqs = report["requests"]
        self.host.load1 += [r[5] for r in reqs]
        failed = [r for r in reqs if not r[4]]
        self.problems += [f"{r[0]}: HTTP {r[3]}, answer differs" for r in failed[:10]]
        return {"lat": [r[2] for r in reqs], "wall": report["wall"],
                "failed": len(failed), "client": {r[1]: r[2] for r in reqs},
                "t_end": t_end}

    def sql_layers(self, res: dict) -> None:
        spans = self.rec.spans
        by_trace: dict[str, dict[str, float]] = {}
        for s in spans:
            if s["trace"] and s["layer"] == "serve":
                d = by_trace.setdefault(s["trace"], {})
                d[s["name"]] = d.get(s["name"], 0.0) + (s["end"] - s["start"])
        for name, key in (("serve.readonly_check", "serve.readonly_check_ms"),
                          ("serve.run_sql", "serve.run_sql_ms"),
                          ("serve.collect", "serve.collect_ms"),
                          ("serve.handle", "serve.handler_ms")):
            vals = [d.get(name, 0.0) * 1000 for d in by_trace.values()]
            self.layer[key] = statistics.median(vals) if vals else 0.0
        waits = [(res["client"][t] - d["serve.handle"]) * 1000
                 for t, d in by_trace.items() if t in res["client"] and "serve.handle" in d]
        self.layer["serve.wait_ms"] = statistics.median(waits) if waits else 0.0
        self.layer["serve.client_p90_ms"] = _percentile(res["lat"], 0.9) * 1000
        for name in ("achilles.plan", "achilles.physplan", "achilles.exec", "validate.exec"):
            key = name + "_s"
            self.layer[key] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        self.spark_counts("analyst_sql", len(res["lat"]), res["t_end"])

    def stop(self) -> None:
        """Stop Spark, then end the driver JVM and wait for it."""
        import subprocess

        proc = getattr(self.sc._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ----------------------------------------------------------- counts
    def spark_counts(self, workload: str, n_ops: int, t_end: float) -> None:
        """Spark counts per operation over the window, and jobs per layer:
        per operation for jobs in the window, per run for set-up jobs."""
        from spans import COUNT_KEYS, attribute_jobs, spark_jobs

        jobs = spark_jobs(self.sc, 0)
        in_window = {j["job"] for j in jobs if self.t_window <= j["submit"] <= t_end}
        for k in COUNT_KEYS:
            total = sum(j[k] for j in jobs if j["job"] in in_window)
            self.layer[f"{workload}.{k}"] = total / max(1, n_ops)
        for job, layer in attribute_jobs(jobs, self.rec.spans).items():
            share = 1 / max(1, n_ops) if job in in_window else 1
            self.layer[f"{layer}.jobs"] = self.layer.get(f"{layer}.jobs", 0) + share


def _norm_rows(rows) -> list:
    return json.loads(json.dumps([r.asDict(recursive=True) for r in rows], default=str))


# -------------------------------------------------------------- main ---

def _layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_per_row_in", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


#: per-layer metric -> unit, in BENCHMARK.json order; a layer that does
#: no work on a workload reports 0 there
PER_LAYER = {name: _layer_unit(name) for name in (
    "typing.plan_s", "idmap.plan_s", "domains.plan_s", "derived.plan_s",
    "pipeline.main_self_s", "etl.traced_s", "etl.layer_sum_s",
    "writers.write_s", "writers.bytes_out", "writers.files_out",
    "etl.rows_out_per_row_in",
    "achilles.plan_s", "achilles.physplan_s", "achilles.exec_s",
    "validate.exec_s",
    "serve.readonly_check_ms", "serve.run_sql_ms", "serve.collect_ms",
    "serve.handler_ms", "serve.wait_ms", "serve.client_p90_ms",
    "trace.overhead_ms", "host.peak_rss_mb",
    *[f"{layer}.jobs" for layer in ("typing", "idmap", "domains", "derived",
                                    "pipeline", "writers", "achilles",
                                    "validate", "serve")],
    *[f"{w}.{k}" for w in ("etl_write", "analyst_sql") for k in (
        "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "executor_run_s", "executor_cpu_s")],
)}
PER_LAYER["writers.bytes_out"] = "bytes"
PER_LAYER["host.peak_rss_mb"] = "MB"

END_TO_END = {"latency_p50_ms": "ms", "ops_per_s": "1/s", "setup_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_write", "analyst_sql"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "synthea2omop_etl_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    _prepare_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    bench = None
    try:
        bench = Bench(args, run_dir)
        res = getattr(bench, args.workload)()
        lat = res["lat"]
        end_to_end = {
            "latency_p50_ms": statistics.median(lat) * 1000,
            "ops_per_s": len(lat) / res["wall"],
            "setup_s": bench.t_window - T_PROCESS,
        }
        bench.layer["host.peak_rss_mb"] = _peak_rss_mb(bench.jvm_pid)
        values, units = (bench.layer, PER_LAYER) if args.trace else (end_to_end, END_TO_END)
        metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}
        host = bench.host.report()
        problems = bench.problems
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            bench.rec.dump(str(WORK / f"{stem}.spans.jsonl"))
        with open(WORK / f"{stem}.report.json", "w") as fh:
            json.dump({"args": vars(args), "host": host, "problems": problems,
                       "setup_phases_s": bench.phases,
                       "latencies_s": lat, "end_to_end": end_to_end,
                       "layers": bench.layer}, fh, indent=1)
        print(json.dumps({"host": host}))
        for p in problems[:20]:
            print(f"problem: {p}")
        result = {"correct": not problems and res["failed"] == 0,
                  "attempted": len(lat), "failed": res["failed"], "metrics": metrics}
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
