"""The benchmark's workloads: inputs made from the seed, one timed operation,
and the output check against the repo's oracles.

Each workload class has the same shape:

* ``oracle_job()`` names an oracle to compute in a worker process during
  set-up, or None;
* ``materialize(ctx)`` builds the input the program receives (repeated
  during set-up; the median enters ``setup_s``);
* ``warmup(ctx)`` runs the workload's own path once, untimed;
* ``probe_docs(ctx)`` returns the corpus the host-noise probe scans;
* ``max_ops(ctx)`` bounds the operations one run can make;
* ``op(ctx, i)`` runs one timed operation and returns an ``Op``;
* ``verify(ctx, ops)`` checks every operation's output, outside timing.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import functions as F

from entity_extractor_spark import contract
from entity_extractor_spark.corpus import (
    CorpusConfig,
    gazetteer_rows,
    generate_documents_df,
    generate_documents_local,
)
from entity_extractor_spark.oracle import finalize, ingest_corpus
from entity_extractor_spark.plans import pipeline
from entity_extractor_spark.plans.lineage import LineageLog
from entity_extractor_spark.streaming import ingest

QUERIES = [
    "graph_triangles",
    "graph_k_truss",
    "graph_common_neighbors",
    "dedup_setsim_join",
]


@dataclass
class Op:
    wall_s: float
    items: int
    # timed intervals (phase, t0, t1); the tracer attributes jobs by them
    intervals: list[tuple[str, float, float]]
    output: object = None


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    smoke: bool
    cores: int
    tracer: object = None
    state: dict = field(default_factory=dict)

    def at(self, phase: str, op: int) -> None:
        """Name the operation in progress for the tracer's job groups."""
        if self.tracer is not None:
            self.tracer.phase, self.tracer.op = phase, op

    def verifying(self):
        """Job group for the benchmark's own output collection."""
        if self.tracer is None:
            return contextlib.nullcontext()
        self.at("verify", 0)
        return self.tracer.group("verify")


# -- oracles ------------------------------------------------------------------

def oracle_graph(n_docs: int, seed: int) -> dict:
    """Sequential pure-Python replay of the first ``n_docs`` documents
    (picklable result: runs in a worker process during set-up)."""
    res = finalize(ingest_corpus(generate_documents_local(CorpusConfig(n_docs=n_docs, seed=seed))))
    return {"triples": set(res["triples"]), "nodes": set(res["nodes"])}


def graph_keys(triples: list, nodes: list, manu: dict) -> dict:
    """The oracle's comparable view of collected triple/node rows."""
    return {
        "triples": {(r["subj"], r["pred"], r["obj"], r["weight_percent"]) for r in triples},
        "nodes": {
            (
                r["name"], r["node_type"], r["cas_number"], manu.get(r["manufacturer_id"]),
                r["pfas_status"], r["pfas_information_source"],
            )
            for r in nodes
        },
    }


def corpus_df(ctx: Ctx, cfg: CorpusConfig):
    """The seeded corpus from the program's distributed generator, cached:
    the DataFrame the program receives."""
    docs = generate_documents_df(ctx.spark, cfg).cache()
    docs.count()
    return docs


def _collect_build(tables: dict) -> dict:
    manu = {r["id"]: r["name"] for r in tables["manufacturers"].collect()}
    triples = tables["triples"].collect()
    nodes = tables["nodes"].collect()
    return {
        "keys": graph_keys(triples, nodes, manu),
        # exact rows, ids included: a resumed build must reproduce them
        "rows": (Counter(tuple(r) for r in triples), Counter(tuple(r) for r in nodes)),
    }


def _mismatch(got: dict, want: dict) -> str | None:
    for part in ("triples", "nodes"):
        if got[part] != want[part]:
            miss, extra = want[part] - got[part], got[part] - want[part]
            return f"{part}: {len(miss)} missing, {len(extra)} extra"
    return None


# -- build_12k ----------------------------------------------------------------

class Build:
    """Fresh ``run_pipeline`` over the seeded corpus, then a crash-resume:
    every stage after ``clustered`` is invalidated and the pipeline rerun
    with ``resume=True``."""

    name = "build_12k"
    why = ("12k-doc default corpus, fresh build plus crash-resume: per-job and "
           "per-commit overhead bound; the resume reads the lineage layer")

    def __init__(self, seed: int, smoke: bool):
        self.cfg = CorpusConfig(n_docs=200 if smoke else 12000, seed=seed)
        self.resume_from = pipeline.STAGE_ORDER[pipeline.STAGE_ORDER.index("clustered") + 1]

    def oracle_job(self):
        return oracle_graph, (self.cfg.n_docs, self.cfg.seed)

    def materialize(self, ctx: Ctx) -> None:
        old = ctx.state.get("docs")
        if old is not None:
            old.unpersist(blocking=True)
        ctx.state["docs"] = corpus_df(ctx, self.cfg)
        ctx.state["gaz"] = gazetteer_rows(self.cfg)

    def _build_and_resume(self, ctx: Ctx, docs, gaz, out: str, i: int,
                          phases=("build", "resume")) -> Op:
        ctx.at(phases[0], i)
        t0 = time.time()
        tables = pipeline.run_pipeline(ctx.spark, docs, out, gazetteer=gaz, resume=False)
        t1 = time.time()
        with ctx.verifying():
            fresh = _collect_build(tables)
        LineageLog(out).invalidate_from(self.resume_from, pipeline.STAGE_ORDER)
        ctx.at(phases[1], i)
        t2 = time.time()
        tables = pipeline.run_pipeline(ctx.spark, docs, out, gazetteer=gaz, resume=True)
        t3 = time.time()
        with ctx.verifying():
            resumed = _collect_build(tables)
        shutil.rmtree(out, ignore_errors=True)
        return Op(
            wall_s=(t1 - t0) + (t3 - t2),
            items=len(fresh["keys"]["triples"]),
            intervals=[(phases[0], t0, t1), (phases[1], t2, t3)],
            output=(fresh, resumed),
        )

    def warmup(self, ctx: Ctx) -> None:
        """One untimed build and resume of a 300-doc corpus of the same
        seed: the whole path compiles at a fraction of a full build's cost."""
        cfg = CorpusConfig(n_docs=60 if ctx.smoke else 300, seed=self.cfg.seed)
        docs = corpus_df(ctx, cfg)
        self._build_and_resume(ctx, docs, gazetteer_rows(cfg),
                               os.path.join(ctx.work, "warmup"), 0, phases=("warmup", "warmup"))
        docs.unpersist()
        ctx.at("setup", 0)

    def max_ops(self, ctx: Ctx) -> int:
        return 1 << 30

    def op(self, ctx: Ctx, i: int) -> Op:
        return self._build_and_resume(
            ctx, ctx.state["docs"], ctx.state["gaz"], os.path.join(ctx.work, f"build_{i}"), i
        )

    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str | None]:
        want = ctx.state["oracle"]
        errs = []
        for op in ops:
            fresh, resumed = op.output
            err = _mismatch(fresh["keys"], want)
            if err is None and fresh["rows"] != resumed["rows"]:
                err = "resumed build differs from the fresh build"
            errs.append(err)
        return errs

    def probe_docs(self, ctx: Ctx):
        return ctx.state["docs"]


# -- ingest_500 ---------------------------------------------------------------

class Ingest:
    """Closed loop, one client: the seeded corpus in doc_id order as
    fixed-size micro-batches through ``streaming.ingest.process_batch``,
    each merging into the accumulated nodes. Batch 0 is the warm-up."""

    name = "ingest_500"
    why = ("12k-doc corpus as 500-doc micro-batches, each merging into the "
           "accumulated graph: the whole DAG's fixed cost on little data")

    def __init__(self, seed: int, smoke: bool):
        self.cfg = CorpusConfig(n_docs=400 if smoke else 12000, seed=seed)
        self.batch_docs = 100 if smoke else 500

    def oracle_job(self):
        return None

    def materialize(self, ctx: Ctx) -> None:
        old = ctx.state.get("docs")
        if old is not None:
            old.unpersist(blocking=True)
        docs = corpus_df(ctx, self.cfg)
        ids = sorted(r[0] for r in docs.select("doc_id").collect())
        ctx.state["docs"] = docs
        ctx.state["bounds"] = [
            (ids[k], ids[min(k + self.batch_docs, len(ids)) - 1], min(self.batch_docs, len(ids) - k))
            for k in range(0, len(ids), self.batch_docs)
        ]
        ctx.state["gaz"] = gazetteer_rows(self.cfg)
        ctx.state["out"] = os.path.join(ctx.work, "ingest")

    def _batch(self, ctx: Ctx, b: int):
        lo, hi, n = ctx.state["bounds"][b]
        return ctx.state["docs"].where(F.col("doc_id").between(lo, hi)), n

    def warmup(self, ctx: Ctx) -> None:
        shutil.rmtree(ctx.state["out"], ignore_errors=True)
        batch, _ = self._batch(ctx, 0)
        ctx.at("warmup", 0)
        ingest.process_batch(ctx.spark, batch, 0, ctx.state["out"], gazetteer=ctx.state["gaz"])
        ctx.at("setup", 0)

    def max_ops(self, ctx: Ctx) -> int:
        return len(ctx.state["bounds"]) - 1

    def op(self, ctx: Ctx, i: int) -> Op:
        b = i + 1  # batch 0 was the warm-up
        batch, n = self._batch(ctx, b)
        ctx.at("batch", i)
        t0 = time.time()
        ingest.process_batch(ctx.spark, batch, b, ctx.state["out"], gazetteer=ctx.state["gaz"])
        t1 = time.time()
        return Op(wall_s=t1 - t0, items=n, intervals=[("batch", t0, t1)], output=b)

    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str | None]:
        """The accumulated graph after the last batch must equal the
        sequential replay of every document fed so far; a mismatch fails
        every batch, since any of them can be at fault."""
        n_docs = sum(n for _, _, n in ctx.state["bounds"][: len(ops) + 1])
        want = oracle_graph(n_docs, self.cfg.seed)
        with ctx.verifying():
            tables = ingest.consolidated(ctx.spark, ctx.state["out"])
            nodes = tables["nodes"].collect()
            triples = tables["triples"].collect()
        # accumulated material rows carry their manufacturer's name
        manu = {r["manufacturer_id"]: r["manufacturer_name"] for r in nodes
                if r["node_type"] == "MATERIAL"}
        err = _mismatch(graph_keys(triples, nodes, manu), want)
        return [err] * len(ops)

    def probe_docs(self, ctx: Ctx):
        return ctx.state["docs"]


# -- operators_heavy ------------------------------------------------------------

def write_lineitem(path: str, rows: int, seed: int) -> None:
    """Seeded lineitem table in the shape of the sf test tables: ~4 lines per
    order, orderkey/partkey/suppkey uniform over sf-proportional ranges,
    integral quantities 1..50. Only the columns the four queries read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    tbl = pa.table({
        "l_orderkey": rng.integers(0, rows // 4, rows, dtype=np.int64),
        "l_partkey": rng.integers(0, max(1, rows // 30), rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, rows // 600), rows, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "lineitem.parquet"))


def _canon(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        v = round(v, 6)
        return int(v) if v.is_integer() else v
    return v


def result_digest(columns: list[str], rows) -> tuple[int, int]:
    """(row count, order-independent checksum) of a query result; columns
    are taken in name order so both engines hash the same tuples."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])
    acc, n = 0, 0
    for r in rows:
        key = repr(tuple(_canon(r[k]) for k in order)).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return n, acc


class Operators:
    """One pass = the four heaviest graph/dedup contract queries over a
    seeded lineitem table, each result collected to the driver."""

    name = "operators_heavy"
    why = ("graph_triangles, graph_k_truss, graph_common_neighbors and "
           "dedup_setsim_join: the contract layer's self-joins, no pipeline")

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.rows = 3000 if smoke else 60_000

    def oracle_job(self):
        return None

    def materialize(self, ctx: Ctx) -> None:
        ctx.state["sf"] = os.path.join(ctx.work, "sf")
        shutil.rmtree(ctx.state["sf"], ignore_errors=True)
        write_lineitem(ctx.state["sf"], self.rows, self.seed)

    def _pass(self, ctx: Ctx, sf: str, i: int, phase: str) -> Op:
        results = {}
        ctx.at(phase, i)
        t0 = time.time()
        for q in QUERIES:
            span = ctx.tracer.span("query", q, f"contract:{q}") if ctx.tracer else None
            with span or contextlib.nullcontext():
                df = contract.Q[q](ctx.spark, sf)
                results[q] = result_digest(df.columns, df.collect())
        t1 = time.time()
        return Op(wall_s=t1 - t0, items=self.rows * len(QUERIES),
                  intervals=[(phase, t0, t1)], output=results)

    def warmup(self, ctx: Ctx) -> None:
        self._pass(ctx, ctx.state["sf"], 0, "warmup")
        ctx.at("setup", 0)

    def max_ops(self, ctx: Ctx) -> int:
        return 1 << 30

    def op(self, ctx: Ctx, i: int) -> Op:
        return self._pass(ctx, ctx.state["sf"], i, "pass")

    def verify(self, ctx: Ctx, ops: list[Op]) -> list[str | None]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads=4")
            con.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"'{os.path.join(ctx.state['sf'], 'lineitem.parquet')}'"
            )
            want = {}
            for q in QUERIES:
                cur = con.execute(contract.SQL[q])
                want[q] = result_digest([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        errs = []
        for op in ops:
            bad = [q for q in QUERIES if op.output[q] != want[q]]
            errs.append(
                None if not bad else
                "; ".join(f"{q}: got {op.output[q][0]} rows, want {want[q][0]}" for q in bad)
            )
        return errs

    def probe_docs(self, ctx: Ctx):
        return corpus_df(ctx, CorpusConfig(n_docs=200 if ctx.smoke else 12000, seed=self.seed))


WORKLOADS = {w.name: w for w in (Build, Ingest, Operators)}
