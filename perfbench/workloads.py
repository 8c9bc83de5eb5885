"""The benchmark's workloads: which ops they run, on which inputs, and how each
op's output is checked.

Every op goes through a ``Tracer``. With tracing off it only times the
layer calls; with tracing on it also brackets them with job ids, forces
the physical plan separately, and keeps spans in memory.
"""

from __future__ import annotations

import os
import shutil
import time

import datagen
import fhirgen
import probes
from oracle import cached_oracle_fingerprints, fingerprint

from healthcare_aws_data_engineering_spark.plans.etl import fhir_etl
from healthcare_aws_data_engineering_spark.plans.reports import cvd_report, prediabetes_report
from healthcare_aws_data_engineering_spark.plans.testdata_queries import ORACLE, QUERIES
from healthcare_aws_data_engineering_spark.sources.tables import load_observations
from healthcare_aws_data_engineering_spark.streaming.incremental import infer_bundle_schema

# The registry workloads read fixed tables; their seed orders the ops.
DATA_SEED = 1

now = time.perf_counter


class Tracer:
    """Times the steps of one op; with ``enabled`` also records spans and
    the job-id brackets that ``finish`` resolves against the status store."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._op = 0
        self._steps: list[tuple] = []

    def begin(self) -> None:
        self._op += 1
        self._steps = []
        self._j0 = probes.next_job_id(self.spark) if self.enabled else 0

    def _span(self, layer: str, name: str, t0: float, t1: float) -> None:
        self.spans.append({"op": self._op, "layer": layer, "name": name, "start": t0, "end": t1})

    def query(self, name: str, build):
        """Build a DataFrame, plan it and collect it; returns (df, rows)."""
        if not self.enabled:
            df = build()
            return df, df.collect()
        t0, j0 = now(), probes.next_job_id(self.spark)
        df = build()
        t1, j1 = now(), probes.next_job_id(self.spark)
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = now()
        rows = df.collect()
        t3 = now()
        for layer, a, b in (("plans.build", t0, t1), ("plans.plan", t1, t2), ("exec.collect", t2, t3)):
            self._span(layer, name, a, b)
        self._steps.append(("query", qe, j1 - j0, t1 - t0, t2 - t1, t3 - t2))
        return df, rows

    def action(self, layer: str, name: str, fn):
        """Call a layer function that runs its own jobs; returns
        (result, seconds)."""
        t0 = now()
        j0 = probes.next_job_id(self.spark) if self.enabled else 0
        out = fn()
        t1 = now()
        if self.enabled:
            self._span(layer, name, t0, t1)
            self._steps.append(("action", layer, j0, probes.next_job_id(self.spark), t1 - t0))
        return out, t1 - t0

    def step_seconds(self) -> dict[str, float]:
        """Seconds per step name (query or action) of the op just timed."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == self._op:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def finish(self, latency: float, cores: int) -> dict[str, float]:
        """Per-layer figures of the op just timed (called after its timer)."""
        end = probes.next_job_id(self.spark)
        ex = probes.exec_stats(self.spark, self._j0, end)
        rec = {
            "plans.build_s": 0.0, "plans.build_jobs": 0.0, "plans.plan_s": 0.0,
            "plans.exchanges": 0.0, "plans.python_nodes": 0.0, "exec.collect_s": 0.0,
            "ml.python_eval_s": 0.0, "ml.arrow_bytes_to_python": 0.0, "ml.score_tasks": 0.0,
            "sources.json_read_s": 0.0, "sources.write_s": 0.0,
        }
        for step in self._steps:
            if step[0] == "query":
                _, qe, jobs, build_s, plan_s, collect_s = step
                ps = probes.plan_stats(qe)
                rec["plans.build_s"] += build_s
                rec["plans.build_jobs"] += jobs
                rec["plans.plan_s"] += plan_s
                rec["exec.collect_s"] += collect_s
                rec["plans.exchanges"] += ps["exchanges"]
                rec["plans.python_nodes"] += ps["python_nodes"]
                rec["ml.python_eval_s"] += ps["python_eval_s"]
                rec["ml.arrow_bytes_to_python"] += ps["arrow_bytes_to_python"]
                rec["ml.score_tasks"] += ps["score_tasks"]
            else:
                _, layer, j0, j1, secs = step
                rec[f"{layer}_s"] += secs
                rec["sources.json_read_s"] += probes.first_stage_s(self.spark, j0, j1)
        for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            rec[f"exec.{k}"] = ex[k]
        rec["exec.core_idle_frac"] = max(0.0, 1.0 - ex["run_s"] / (cores * latency))
        rec["sources.scan_bytes"] = ex["scan_bytes"]
        rec["sources.scan_tasks"] = ex["scan_tasks"]
        return rec


class RegistryWorkload:
    """Registry rows over generated testdata-shaped tables, checked against
    the DuckDB oracle (fingerprints cached by data and SQL)."""

    tables: dict[str, int] = {}
    rows: list[str] = []
    warm_up_passes = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.data = ""
        self.schema_infer_s = 0.0

    def setup(self, spark, tag: str) -> None:
        self.data = os.path.join(self.work, tag, "tables")
        datagen.write_tables(self.data, DATA_SEED, self.tables)

    def run(self, spark, name: str, tracer: Tracer):
        return tracer.query(name, lambda: QUERIES[name](spark, self.data))

    def check(self, spark, name: str, result) -> tuple[tuple, dict]:
        """The op's fingerprint, and what it wrote (nothing here)."""
        df, rows = result
        return fingerprint(df.columns, [tuple(r) for r in rows]), {}

    def expected(self, names) -> dict[str, tuple]:
        tables = [t for t in self.tables if t != "users"]
        return cached_oracle_fingerprints(
            os.path.join(os.path.dirname(self.work), "oracle-cache"),
            self.data, tables, {n: ORACLE[n] for n in names},
        )


class ClinicalApp(RegistryWorkload):
    tables = {"events": 10_000, "users": 150, "customer": 1_500}
    # Report rows bound by plan building and scheduling, and the ML row
    # (a pandas UDF) that sets the tail.
    rows = [
        "report_cvd", "report_prediabetes", "disease_confidence", "wellness_monthly",
        "ml_risk_scores",
    ]


class CorpusRows(RegistryWorkload):
    tables = {"documents": 300, "embeddings": 300}
    # A build-bound iterative row (graph_pagerank) and a row a scan
    # spread moves (vocab_topk); with the ingest op, three ops per pass.
    rows = ["graph_pagerank", "vocab_topk"]


class FhirIngest:
    """Raw FHIR bundles → curated Parquet through ``fhir_etl`` with a
    frozen schema, then both reports over the observation table."""

    rows = ["ingest"]
    BUNDLES = 25
    OBS_PER_BUNDLE = 40
    SAMPLE = "bundle_0000*.json"  # the first ten files

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.zone = None
        self.schema = None
        self.raw = ""
        self.schema_infer_s = 0.0
        self._n = 0

    def setup(self, spark, tag: str) -> None:
        self.raw = os.path.join(self.work, tag, "raw")
        self.zone = fhirgen.write_raw_zone(self.raw, self.seed, self.BUNDLES, self.OBS_PER_BUNDLE)
        t0 = now()
        self.schema = infer_bundle_schema(spark, os.path.join(self.raw, self.SAMPLE))
        self.schema_infer_s = now() - t0

    def run(self, spark, name: str, tracer: Tracer):
        self._n += 1
        curated = os.path.join(self.work, f"curated-{self._n}")
        paths, etl_s = tracer.action(
            "sources.write", "fhir_etl", lambda: fhir_etl(spark, self.raw, curated, schema=self.schema)
        )
        reports = {}
        for rname, fn in (("cvd_report", cvd_report), ("prediabetes_report", prediabetes_report)):
            reports[rname] = tracer.query(
                rname, lambda fn=fn: fn(load_observations(spark, paths["observation"]))
            )
        return curated, paths, reports, etl_s

    def check(self, spark, name: str, result) -> tuple[tuple, dict]:
        """Per-table counts and report fingerprints of one op, and what it
        wrote; then drops the op's curated directory."""
        curated, paths, reports, etl_s = result
        counts = {t: spark.read.parquet(p).count() for t, p in paths.items()}
        files = [os.path.join(d, f) for d, _, fs in os.walk(curated) for f in fs if f.endswith(".parquet")]
        written = {
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "raw_bytes": self.zone.raw_bytes,
            "rows": sum(counts.values()),
            "etl_s": etl_s,
        }
        shutil.rmtree(curated, ignore_errors=True)
        fps = {n: fingerprint(df.columns, [tuple(r) for r in rows]) for n, (df, rows) in reports.items()}
        return (tuple(sorted(counts.items())), tuple(sorted(fps.items()))), written

    def expected(self, names) -> dict[str, tuple]:
        return {
            "ingest": (
                tuple(sorted(self.zone.counts.items())),
                tuple(sorted(self.zone.reports.items())),
            )
        }


class IngestBatch:
    """The batch jobs: the FHIR ingest op plus the corpus rows, each op
    handled by the part that owns it."""

    # After one warm-up pass the JIT still cut these ops' CPU by a third
    # from one pass to the next, so how many passes fit in a run moved
    # the figure; a second warm-up pass narrowed the ten-seed spread of
    # cpu_per_op_vs_ref from 0.113 to 0.091.
    warm_up_passes = 2

    def __init__(self, work: str, seed: int):
        self.parts = {"ingest": FhirIngest(work, seed)}
        corpus = CorpusRows(work, seed)
        self.parts.update(dict.fromkeys(corpus.rows, corpus))
        self.rows = list(self.parts)

    @property
    def schema_infer_s(self) -> float:
        return self.parts["ingest"].schema_infer_s

    def _unique_parts(self):
        return {id(p): p for p in self.parts.values()}.values()

    def setup(self, spark, tag: str) -> None:
        for part in self._unique_parts():
            part.setup(spark, tag)

    def run(self, spark, name: str, tracer: Tracer):
        return self.parts[name].run(spark, name, tracer)

    def check(self, spark, name: str, result):
        return self.parts[name].check(spark, name, result)

    def expected(self, names) -> dict[str, tuple]:
        out = {}
        for part in self._unique_parts():
            mine = [n for n in names if self.parts[n] is part]
            if mine:
                out.update(part.expected(mine))
        return out


WORKLOADS = {"clinical_app": ClinicalApp, "ingest_batch": IngestBatch}
ALL_ROWS = ClinicalApp.rows + ["ingest"] + CorpusRows.rows
