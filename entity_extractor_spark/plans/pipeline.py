"""End-to-end KG-construction pipeline (SURVEY.md §7 stage graph):

documents -> s2 mentions -> s3 extract (headers/chemicals/winners) ->
s4+s5 link+canonicalize -> s6 propagate -> s7 materialize
(nodes, edges, triples, mentions, manufacturers) with per-stage lineage
commits so a killed run resumes without recomputing done stages.

Partitioning: the NARROW parsed-line stream (header/chem lines only — one
classify+parse scan of the corpus, extract.parse_spans) is explicitly
repartitioned on hash(doc_id) (north rule) so all per-doc work is
co-located and every doc-keyed agg/join reuses that one exchange. The raw
corpus itself is never shuffled and never cached — at 100 TB the noise
text must stay inside its scan stage, and on the shared-socket sandbox the
former full-corpus repartition+persist was the measured memory-bandwidth
tax that capped multi-executor scaling (BENCH_scaling r04).

Scheduling: stages form a DAG, not a chain — independent stages (e.g. the
mention scan and the extract path; the three projections of `winners`) are
submitted as CONCURRENT Spark jobs from a thread pool, so one stage's
commit/barrier tail overlaps another stage's compute. On a large cluster
this keeps executors busy across stage boundaries; the per-stage lineage
contract is unchanged (each stage still commits atomically).
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import entity_id
from ..operators import extract as X
from ..operators import link as L
from ..operators import mentions as M
from ..operators import propagate as P
from ..session import codegen_compiles
from .lineage import LineageLog, commit_stage, load_stage

STAGE_ORDER = [
    "mentions",
    "winners",
    "observations",
    "materials",
    "manufacturers",
    "clustered",
    "chem_nodes",
    "edges",
    "nodes",
    "triples",
]

# stage -> direct dependencies (DAG edges); independent stages run as
# concurrent Spark jobs.
STAGE_DEPS: dict[str, list[str]] = {
    "mentions": [],
    "winners": [],
    "observations": ["winners"],
    "materials": ["winners"],
    "manufacturers": ["winners"],
    "clustered": ["observations"],
    "chem_nodes": ["clustered"],
    "edges": ["clustered"],
    "nodes": ["materials", "chem_nodes", "edges"],
    "triples": ["manufacturers", "materials", "chem_nodes", "edges"],
}

# Scheduling-only extra edges (no data dependency): a leaf stage that would
# compete with the gating extract chain yields to it instead. Two jobs that
# each saturate the cluster finish at t_a+t_b whether run concurrently or
# back-to-back — but back-to-back, the critical path's stages commit without
# queuing their tasks behind the unrelated mention scan. `mentions` has no
# downstream consumer inside the DAG, so it yields until `clustered`
# commits: the winners->observations->clustered chain (including the
# connected-components probe jobs inside the `clustered` builder, which are
# short multi-job sequences especially hurt by FIFO queuing behind a
# corpus-wide scan) runs uncontended, and the scan then overlaps the small
# post-cluster tail (edges/chem_nodes/nodes/triples), which leaves most of
# the cluster idle. Pure win on any cluster size; semantic STAGE_DEPS
# (resume, lineage) are unchanged.
SCHED_DEPS: dict[str, list[str]] = {
    **STAGE_DEPS,
    "mentions": ["clustered"],
}


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    gazetteer: list[dict] | None = None,
    existing_nodes: DataFrame | None = None,
    resume: bool = True,
    repartition: int | None = None,
    scalable_fold: bool = False,
) -> dict[str, DataFrame]:
    """scalable_fold=True swaps the per-cluster collect_list fold for the
    associative per-doc transition-table fold (hub-cluster skew path,
    operators/link.py) — identical output, bounded per-task payloads."""
    log = LineageLog(out_dir)
    compiles_at_start = codegen_compiles(spark)
    if not resume:
        log.invalidate_from(STAGE_ORDER[0], STAGE_ORDER)

    # 4 tasks per core: fine-grained tasks pack the cores through the
    # concurrent-stage phases (a straggler wastes 1/4 core-second instead of
    # a whole stage tail) and give AQE room to split skewed partitions.
    n_part = repartition or 4 * spark.sparkContext.defaultParallelism

    # s3 — extract. ONE classify+parse scan of the raw corpus produces the
    # narrow `parsed` stream (header/chem lines only — noise text, media
    # spans and raw span structs never leave the scan stage), and THAT is
    # what gets the explicit hash(doc_id) repartition (north rule) and the
    # persist. The raw 100-TB corpus is never shuffled and never cached:
    # the former repartition+persist of the full documents DF pushed every
    # noise byte through an exchange, a cache write and 4 cache scans —
    # pure memory-bandwidth tax, which is exactly what capped multi-
    # executor scaling on a shared socket (BENCH_scaling r04 forensics:
    # 1.33x task-CPU inflation at 4 executors, zero spill, zero fetch
    # wait). Now the corpus is read three times, all pure map-side scans:
    # this parse, and the two scans of the mention stage (the vocabulary
    # collect and the match, mentions.detect_mentions).
    #
    # Partition on the COLUMN (hash partitioning on doc_id), not on
    # F.hash(doc_id): HashPartitioning(doc_id) satisfies the clustering
    # required by every downstream agg/join keyed on doc_id or any
    # superset key, so the header min-agg (doc_id), the A5 dedupe agg
    # (doc_id, chemical_name), the header semi-join and the observations
    # join all reuse this ONE narrow exchange instead of re-shuffling.
    parsed = (
        X.parse_spans(X.text_spans(documents))
        .repartition(n_part, F.col("doc_id"))
        .persist()
    )
    headers = X.resolve_headers(parsed)
    # chems feeds BOTH the winner filter (doc ids with >=1 chemical) and
    # the observations stage; both re-derive it from the parsed cache with
    # cheap partition-local aggs (no raw-corpus rescan, no extra exchange).
    chems = X.dedupe_chemicals(parsed).join(
        headers.select("doc_id"), "doc_id", "left_semi"
    )
    existing_keys = None
    if existing_nodes is not None and "manufacturer_name" in existing_nodes.columns:
        # re-ingest MERGE: prior materials make their identity keys occupied.
        # The key MUST be built with the same norm_name the winner side uses
        # (extract.winner_docs) — an inlined copy here would silently desync
        # the two sides of the MERGE identity if F1 ever changes.
        from ..functions.core import norm_name

        existing_keys = existing_nodes.where(F.col("node_type") == "MATERIAL").select(
            F.concat_ws(
                "\x1f",
                norm_name(F.col("name")),
                F.col("manufacturer_name"),
            ).alias("mat_key")
        )

    # s6 — propagate + s7 — materialize node/triple tables
    def build_nodes(out: dict[str, DataFrame]) -> DataFrame:
        resolved = P.resolve_materials(out["edges"], out["chem_nodes"])
        mats = (
            out["materials"]
            .drop("pfas_status", "pfas_information_source")
            .join(resolved, out["materials"]["id"] == resolved["material_id"], "left")
            .drop("material_id")
            .fillna({"pfas_status": "PENDING", "pfas_information_source": "NONE"})
            .select(
                "id", "name", "node_type", "cas_number", "manufacturer_id",
                "pfas_status", "pfas_information_source",
            )
        )
        chem = out["chem_nodes"].select(
            F.col("chem_id").alias("id"),
            "name",
            F.lit("CHEMICAL").alias("node_type"),
            "cas_number",
            "manufacturer_id",
            "pfas_status",
            "pfas_information_source",
        )
        return mats.unionByName(chem)

    def build_triples(out: dict[str, DataFrame]) -> DataFrame:
        manu = out["manufacturers"]
        mats = out["materials"]
        chem = out["chem_nodes"]
        has_chem = (
            out["edges"]
            .join(mats.select(F.col("id").alias("material_id"), F.col("name").alias("subj")), "material_id")
            .join(chem.select("cluster", F.col("name").alias("obj"), "chem_id"), "cluster")
            .select(
                "subj",
                F.lit("hasChemical").alias("pred"),
                "obj",
                F.col("material_id").alias("subj_id"),
                F.col("chem_id").alias("obj_id"),
                F.col("chemical_weight_percent").alias("weight_percent"),
                F.lit(None).cast("string").alias("doc_id"),
            )
        )
        made_by = mats.join(
            F.broadcast(manu.select(F.col("id").alias("mid"), F.col("name").alias("obj"))),
            mats["manufacturer_id"] == F.col("mid"),
        ).select(
            F.col("name").alias("subj"),
            F.lit("manufacturedBy").alias("pred"),
            "obj",
            F.col("id").alias("subj_id"),
            F.col("mid").alias("obj_id"),
            F.lit(None).cast("string").alias("weight_percent"),
            F.lit(None).cast("string").alias("doc_id"),
        )
        evidenced = mats.select(
            F.col("name").alias("subj"),
            F.lit("evidencedBy").alias("pred"),
            F.col("doc_id").alias("obj"),
            F.col("id").alias("subj_id"),
            F.col("doc_id").alias("obj_id"),
            F.lit(None).cast("string").alias("weight_percent"),
            "doc_id",
        )
        return has_chem.unionByName(made_by).unionByName(evidenced)

    builders: dict[str, object] = {
        "mentions": lambda out: M.detect_mentions(documents, gazetteer),
        "winners": lambda out: X.winner_docs(
            headers, chems.select("doc_id").distinct(), existing_keys
        ),
        "observations": lambda out: X.observations(out["winners"], chems),
        "materials": lambda out: X.materials_table(out["winners"]),
        "manufacturers": lambda out: X.manufacturers_table(out["winners"]),
        "clustered": lambda out: L.assign_clusters(out["observations"], existing_nodes),
        "chem_nodes": lambda out: (
            L.fold_chemical_nodes_scalable if scalable_fold else L.fold_chemical_nodes
        )(out["clustered"]),
        "edges": lambda out: L.chemical_edges(out["clustered"]),
        "nodes": build_nodes,
        "triples": build_triples,
    }
    active = [s for s in STAGE_ORDER if s != "mentions" or gazetteer is not None]
    out: dict[str, DataFrame] = {}

    # north-rule counters: rows-per-stage is always recorded; these add the
    # named semantic counters (mentions=stage rows of 'mentions',
    # candidates=rows of 'observations', linked=rows of 'edges',
    # dropped=sum of lattice-fold drops)
    counter_cols = {"chem_nodes": {"dropped": "n_dropped"}}

    def run_stage(name: str) -> DataFrame:
        if resume and log.is_done(name):
            return load_stage(log, spark, name)
        return commit_stage(
            log, spark, name, builders[name](out), counters_cols=counter_cols.get(name)
        )

    # Event-driven DAG execution: a stage is submitted the moment its last
    # dependency commits (no wave barrier — a barrier would hold the
    # observations->clustered->...->nodes critical path hostage to the
    # unrelated `mentions` scan). Submission order within a ready set is
    # critical-path-first (longest dependent chain to a sink): Spark's FIFO
    # scheduler gives earlier-submitted jobs' tasks priority, so gating
    # stages (`winners`) saturate the cores while leaf stages (`mentions`)
    # fill whatever slots remain.
    depth: dict[str, int] = {}

    def _depth(s: str) -> int:
        if s not in depth:
            below = [d for d, deps in SCHED_DEPS.items() if s in deps and d in active]
            depth[s] = 1 + max((_depth(d) for d in below), default=0)
        return depth[s]

    # Materialize the parsed cache once, fully parallel, before any stage
    # runs: two concurrent first jobs would otherwise race to compute the
    # same cached partitions (block-lock waits + duplicated shuffle reads).
    # Only the stages that traverse `parsed` gate this — winners and
    # observations (via the headers/chems chains); `mentions` scans the raw
    # corpus directly and shares no cache. A partial resume where only
    # post-extract stages remain (clustered/edges/nodes/triples read
    # committed stage parquet) must not re-parse 100 TB of input for
    # nothing.
    # Fold replay order contract: every first-wins / last-wins fold orders
    # by doc_id in the column's NATIVE order — numeric for numeric ids,
    # plain string order for string ids ('doc-10' < 'doc-9'). That order is
    # deterministic and identical on every engine (the DuckDB and Python
    # oracles replay the same comparison), which is the property the
    # contract needs; corpora that want numeric replay order for string
    # ids must zero-pad ('doc-%08d' — the corpus convention).
    _parsed_consumers = ("winners", "observations")
    if not (
        resume
        and all(log.is_done(s) for s in active if s in _parsed_consumers)
    ):
        parsed.count()

    done: set[str] = set()
    submitted: set[str] = set()
    with ThreadPoolExecutor(max_workers=4) as ex:
        futures: dict = {}

        def submit_ready() -> None:
            ready = [
                s
                for s in active
                if s not in submitted and all(d in done for d in SCHED_DEPS[s])
            ]
            for s in sorted(ready, key=_depth, reverse=True):
                futures[ex.submit(run_stage, s)] = s
                submitted.add(s)

        submit_ready()
        while len(done) < len(active):
            fin, _ = wait(futures, return_when=FIRST_COMPLETED)
            for fut in fin:
                s = futures.pop(fut)
                out[s] = fut.result()
                done.add(s)
            submit_ready()

    parsed.unpersist()  # all outputs read from committed stage tables
    # Janino compiles during this run. A repeated run in a warm JVM should
    # read 0 (see STATIC_CONF in session.py); a run that recompiles its
    # generated classes again shows it here. The counter is JVM-wide, so
    # queries run concurrently by other threads or sessions are included.
    log.record_run(codegen_compiles=codegen_compiles(spark) - compiles_at_start)
    return out
