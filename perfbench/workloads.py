"""The benchmark's workloads: input generation, the timed job, the check.

A workload generates its inputs from the seed (set-up), runs one job per
call of :meth:`job` and checks that job's outputs against the oracles.
Every call into the library sits inside a ``tracer.span`` named after the
layer it enters, so a traced job records where the time went.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from graphlite_spark.algos.components import ConnectedComponents, symmetrize
from graphlite_spark.algos.lpa import label_propagation
from graphlite_spark.algos.pagerank import pagerank
from graphlite_spark.algos.triangles import triangle_count
from graphlite_spark.checkpoint import ParquetCheckpointer
from graphlite_spark.operators.pregel import PregelEngine, PregelResult
from graphlite_spark.plans.derive import derive_edges, derive_vertices
from graphlite_spark.sources.synthetic import zipf_edges
from graphlite_spark.sources.transcripts import generate_transcripts

from perfbench import oracles

PREGEL_SPANS = ("algos.pagerank", "algos.lpa", "algos.components")


@dataclass
class JobOutput:
    pregel: list[PregelResult] = field(default_factory=list)
    supersteps: int = 0
    recovery_s: float | None = None
    frames: dict = field(default_factory=dict)
    values: dict = field(default_factory=dict)


class TimedCheckpointer:
    """Pass-through around the checkpointer injected into the engine that
    puts ``save``, ``commit`` and ``latest`` under their own spans."""

    def __init__(self, inner: ParquetCheckpointer, tracer):
        self.inner = inner
        self.tracer = tracer

    def save(self, df, superstep, aggr, run_id):
        with self.tracer.span("checkpoint.save"):
            return self.inner.save(df, superstep, aggr, run_id)

    def commit(self, superstep, aggr, run_id):
        with self.tracer.span("checkpoint.commit"):
            self.inner.commit(superstep, aggr, run_id)

    def latest(self, spark, run_id):
        with self.tracer.span("checkpoint.latest"):
            return self.inner.latest(spark, run_id)

    def manifests(self, run_id):
        return self.inner.manifests(run_id)


def _by_id(pdf, col: str, ids: np.ndarray) -> np.ndarray:
    """Column ``col`` of a collected (id, ...) frame, in ``ids`` order."""
    got_ids = pdf["id"].to_numpy(np.int64)
    order = np.argsort(got_ids)
    if not np.array_equal(got_ids[order], ids):
        raise AssertionError(f"{col}: vertex ids differ from the oracle's")
    return pdf[col].to_numpy()[order]


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class TranscriptPageRankCCResume:
    """Generated transcripts -> derive -> converged PageRank, then
    connected components on the durable checkpointer, stopped part-way
    (a simulated crash) and resumed from the latest manifest."""

    name = "transcript-pagerank-cc-resume"
    N_CONVS = 2000
    MAX_TURNS = 5
    EPS = 1e-6
    CRASH_AT = 2  # supersteps the interrupted CC run completes

    def __init__(self, spark, run_dir: Path, tracer):
        self.spark = spark
        self.tracer = tracer
        self.transcripts = str(run_dir / "inputs" / "transcripts")
        self.ckpt_dir = run_dir / "checkpoints"
        self.tmp = run_dir / "tmp"
        self.uninterrupted: np.ndarray | None = None

    def generate(self, seed: int, cores: int) -> None:
        generate_transcripts(
            self.spark, n_convs=self.N_CONVS, max_turns=self.MAX_TURNS,
            seed=seed, partitions=cores,
        ).write.mode("overwrite").parquet(self.transcripts)

    def oracle(self) -> dict[str, np.ndarray]:
        g = oracles.derived_graph(self.transcripts, self.tmp)
        pr, pr_ss = oracles.pagerank(g["ids"], g["src"], g["dst"], eps=self.EPS)
        cc = oracles.components(g["ids"], g["src"], g["dst"])
        return {**g, "pagerank": pr, "pagerank_supersteps": np.int64(pr_ss), "cc": cc}

    def job(self, warmup: bool = False) -> JobOutput:
        """One job.  The warm-up job runs CC uninterrupted, which gives the
        labels every resumed run must reproduce."""
        span, spark = self.tracer.span, self.spark
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        out = JobOutput()
        tr = spark.read.parquet(self.transcripts)
        with span("plans.derive"):
            v = derive_vertices(tr).localCheckpoint(eager=True)
            e = derive_edges(tr, v).localCheckpoint(eager=True)
        with span("algos.pagerank"):
            pr = pagerank(v, e, eps=self.EPS)
        und = symmetrize(e)
        ck = TimedCheckpointer(ParquetCheckpointer(str(self.ckpt_dir), every=1), self.tracer)
        if warmup:
            with span("algos.components"):
                cc = PregelEngine(checkpointer=ck, run_id="cc").run(v, und, ConnectedComponents())
            out.pregel += [pr, cc]
        else:
            with span("algos.components"):
                crashed = PregelEngine(checkpointer=ck, run_id="cc").run(
                    v, und, ConnectedComponents(max_supersteps=self.CRASH_AT)
                )
            t0 = time.perf_counter()
            latest = ck.latest(spark, "cc")
            with span("algos.components"):
                cc = PregelEngine(checkpointer=ck, run_id="cc").run(
                    v, und, ConnectedComponents(), resume_from=latest
                )
            out.recovery_s = time.perf_counter() - t0
            out.pregel += [pr, crashed, cc]
            out.values["crashed_converged"] = crashed.converged
            out.values["resumed_from"] = latest[1] if latest else None
        out.supersteps = pr.supersteps + cc.supersteps
        out.frames = {"v": v, "e": e, "pr": pr.state, "cc": cc.state}
        out.values.update(
            pr_supersteps=pr.supersteps,
            cc_supersteps=cc.supersteps,
            cc_converged=cc.converged,
            checkpoint_bytes=_dir_bytes(self.ckpt_dir),
            checkpoint_manifests=len(ck.manifests("cc")),
        )
        return out

    def check(self, out: JobOutput, exp: dict, warmup: bool = False) -> list[str]:
        errs = []
        v = out.frames["v"].select("id").toPandas()["id"].to_numpy(np.int64)
        e = out.frames["e"].select(
            "src", "dst", (F.col("etype") == "tool").cast("int").alias("tool")
        ).toPandas()
        out.values["derive_vertices"], out.values["derive_edges"] = len(v), len(e)
        if not np.array_equal(np.sort(v), exp["ids"]):
            errs.append("derive_vertices: ids differ from the DuckDB derivation")
        got = e.sort_values(["src", "dst", "tool"]).to_numpy(np.int64)
        want = np.stack([exp["src"], exp["dst"], exp["tool"]], axis=1)
        if got.shape != want.shape or not np.array_equal(got, want):
            errs.append("derive_edges: edges differ from the DuckDB derivation")
        if out.values["pr_supersteps"] != int(exp["pagerank_supersteps"]):
            errs.append(
                f"pagerank: {out.values['pr_supersteps']} supersteps, oracle "
                f"{int(exp['pagerank_supersteps'])}"
            )
        pr = _by_id(out.frames["pr"].select("id", "value").toPandas(), "value", exp["ids"])
        if not np.allclose(pr, exp["pagerank"], rtol=0.0, atol=1e-6):
            errs.append("pagerank: values differ from the NumPy oracle by more than 1e-6")
        labels = _by_id(out.frames["cc"].select("id", "value").toPandas(), "value", exp["ids"])
        if not out.values["cc_converged"]:
            errs.append("components: did not converge")
        if not np.array_equal(labels.astype(np.int64), exp["cc"]):
            errs.append("components: labels differ from union-find")
        if warmup:
            self.uninterrupted = labels
        else:
            if out.values["crashed_converged"] or out.values["resumed_from"] != self.CRASH_AT - 1:
                errs.append("components: the interrupted run did not stop where planned")
            if self.uninterrupted is None or not np.array_equal(labels, self.uninterrupted):
                errs.append("components: resumed labels differ from the uninterrupted run")
        return errs


class ZipfHubs:
    """Power-law arcs with hubs on both sides: fixed-superstep PageRank,
    label propagation and a degree-oriented triangle count."""

    name = "zipf-hubs"
    N_VERTICES = 20_000
    N_EDGES = 100_000
    HUB_RANK = 30
    PR_SUPERSTEPS = 5
    LPA_ITERATIONS = 2

    def __init__(self, spark, run_dir: Path, tracer):
        self.spark = spark
        self.tracer = tracer
        self.edges = str(run_dir / "inputs" / "edges")
        self.vertices = str(run_dir / "inputs" / "vertices")
        self.tmp = run_dir / "tmp"

    def generate(self, seed: int, cores: int) -> None:
        zipf_edges(
            self.spark, self.N_VERTICES, self.N_EDGES, hub_rank=self.HUB_RANK,
            seed=seed, num_partitions=cores,
        ).withColumn("weight", F.lit(1.0)).write.mode("overwrite").parquet(self.edges)
        e = self.spark.read.parquet(self.edges)
        e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct(
        ).write.mode("overwrite").parquet(self.vertices)

    def oracle(self) -> dict[str, np.ndarray]:
        ids, src, dst = oracles.edge_arrays(self.edges, self.vertices, self.tmp)
        pr, _ = oracles.pagerank(ids, src, dst, fixed_supersteps=self.PR_SUPERSTEPS)
        return {
            "ids": ids,
            "pagerank": pr,
            "lpa": oracles.label_propagation(ids, src, dst, self.LPA_ITERATIONS),
            "triangles": np.int64(oracles.triangle_count(self.edges, self.tmp)),
        }

    def job(self, warmup: bool = False) -> JobOutput:
        span, spark = self.tracer.span, self.spark
        out = JobOutput()
        t0 = time.perf_counter()
        e = spark.read.parquet(self.edges)
        v = spark.read.parquet(self.vertices)
        with span("algos.pagerank"):
            pr = pagerank(v, e, fixed_supersteps=self.PR_SUPERSTEPS)
        with span("algos.lpa"):
            lpa = label_propagation(v, e, iterations=self.LPA_ITERATIONS)
        with span("algos.triangles"):
            tri = triangle_count(e, orient="degree").collect()[0]["triangles"]
        # no durable state: recovering from a crash means running again
        out.recovery_s = time.perf_counter() - t0
        out.pregel += [pr, lpa]
        out.supersteps = pr.supersteps + lpa.supersteps
        out.frames = {"pr": pr.state, "lpa": lpa.state}
        out.values.update(triangles=int(tri), checkpoint_bytes=0, checkpoint_manifests=0)
        return out

    def check(self, out: JobOutput, exp: dict, warmup: bool = False) -> list[str]:
        errs = []
        pr = _by_id(out.frames["pr"].select("id", "value").toPandas(), "value", exp["ids"])
        if not np.allclose(pr, exp["pagerank"], rtol=0.0, atol=1e-6):
            errs.append("pagerank: values differ from the NumPy oracle by more than 1e-6")
        lpa = _by_id(out.frames["lpa"].select("id", "value").toPandas(), "value", exp["ids"])
        if not np.array_equal(lpa.astype(np.int64), exp["lpa"]):
            errs.append("lpa: labels differ from the brute-force oracle")
        if out.values["triangles"] != int(exp["triangles"]):
            errs.append(
                f"triangles: {out.values['triangles']}, DuckDB {int(exp['triangles'])}"
            )
        return errs


WORKLOADS = {w.name: w for w in (TranscriptPageRankCCResume, ZipfHubs)}
