"""Golden end-to-end: Spark pipeline vs the pure-Python oracle replaying the
reference control flow (SURVEY.md §5.2). Gate: triple P/R >= 0.95
(BASELINE.json); in practice the corpus constraints make the match exact,
and we assert exactness to catch regressions early.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.corpus import (
    CorpusConfig,
    gazetteer_rows,
    generate_documents_df,
    generate_documents_local,
)
from entity_extractor_spark.oracle import finalize, ingest_corpus, scan_mentions
from entity_extractor_spark.plans.pipeline import run_pipeline

CFG = CorpusConfig(n_docs=150)


@pytest.fixture(scope="module")
def oracle_result():
    docs = generate_documents_local(CFG)
    return finalize(ingest_corpus(docs)), docs


@pytest.fixture(scope="module")
def spark_result(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("kg_out")
    docs = generate_documents_df(spark, CFG)
    return run_pipeline(spark, docs, str(out), gazetteer=gazetteer_rows(CFG))


def _spark_triples(tables) -> set:
    manu = {r["id"]: r["name"] for r in tables["manufacturers"].collect()}
    rows = tables["triples"].collect()
    return {
        (r["subj"], r["pred"], r["obj"], r["weight_percent"]) for r in rows
    }


def _oracle_triples(res) -> set:
    return {(s, p, o, w) for (s, p, o, w) in res["triples"]}


def test_corpus_generators_agree(spark):
    local = generate_documents_local(CorpusConfig(n_docs=40))
    dist = generate_documents_df(spark, CorpusConfig(n_docs=40)).collect()
    d = {r["doc_id"]: r["spans"] for r in dist}
    assert len(d) == 40
    for doc in local:
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d[doc["doc_id"]]]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in doc["spans"]]
        assert got == want


def test_triples_match_oracle(spark_result, oracle_result):
    res, _docs = oracle_result
    got = _spark_triples(spark_result)
    want = _oracle_triples(res)
    missing = want - got
    extra = got - want
    precision = 1 - len(extra) / max(1, len(got))
    recall = 1 - len(missing) / max(1, len(want))
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.3f} R={recall:.3f} missing={list(missing)[:5]} extra={list(extra)[:5]}"
    )
    # strict: the constrained corpus should match exactly
    assert got == want, f"missing={list(missing)[:5]} extra={list(extra)[:5]}"


def test_nodes_match_oracle(spark_result, oracle_result):
    res, _docs = oracle_result
    manu = {r["id"]: r["name"] for r in spark_result["manufacturers"].collect()}
    got = {
        (
            r["name"],
            r["node_type"],
            r["cas_number"],
            manu.get(r["manufacturer_id"]),
            r["pfas_status"],
            r["pfas_information_source"],
        )
        for r in spark_result["nodes"].collect()
    }
    want = set(res["nodes"])
    assert got == want, (
        f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"
    )


def test_mentions_match_oracle(spark_result, oracle_result):
    _res, docs = oracle_result
    want = scan_mentions(docs, gazetteer_rows(CFG))
    got = {
        (r["doc_id"], r["span_offset"], r["keyword"], r["word"], r["confidence"], r["mtype"])
        for r in spark_result["mentions"]
        .select("doc_id", "span_offset", "keyword", "word", "confidence", "mtype")
        .collect()
    }
    # oracle rows carry word multiplicity via word index; compare as sets of
    # the same shape (spark side also keeps word_idx; set-compare without it
    # plus count-compare with it)
    want_flat = {(d, o, k, w, c, m) for (d, o, k, w, c, m) in want}
    assert got == want_flat
    n_spark = spark_result["mentions"].count()
    assert n_spark == len(want)


def test_resume_skips_done_stages(spark, oracle_result, tmp_path):
    _res, _docs = oracle_result
    cfg = CorpusConfig(n_docs=30)
    docs = generate_documents_df(spark, cfg)
    out = str(tmp_path / "resume_out")
    t1 = run_pipeline(spark, docs, out, gazetteer=gazetteer_rows(cfg))
    first = {(r["subj"], r["pred"], r["obj"]) for r in t1["triples"].collect()}

    # simulate a crash after 'observations': invalidate later stages
    from entity_extractor_spark.plans.lineage import LineageLog
    from entity_extractor_spark.plans.pipeline import STAGE_ORDER

    log = LineageLog(out)
    log.invalidate_from("chem_nodes", STAGE_ORDER)
    assert log.is_done("observations")
    assert not log.is_done("chem_nodes")

    t2 = run_pipeline(spark, docs, out, gazetteer=gazetteer_rows(cfg))
    second = {(r["subj"], r["pred"], r["obj"]) for r in t2["triples"].collect()}
    assert first == second
    assert log.is_done("chem_nodes")


def test_span_invariant_preserved(spark):
    """input_hint per-row invariant: every doc-level table keeps the ordered
    span sequence intact. The pipeline never mutates spans; assert the
    repartitioned pass-through is fingerprint-identical to the input."""
    from entity_extractor_spark.operators.assemble import check_span_invariant

    cfg = CorpusConfig(n_docs=25)
    docs = generate_documents_df(spark, cfg)
    shuffled = docs.repartition(8, F.hash("doc_id"))
    assert check_span_invariant(docs, shuffled) == 0


def test_hub_skew_corpus_and_scalable_fold(spark, tmp_path):
    """Hub-entity skew end-to-end: a corpus where ~90% of chemical draws hit
    one hub chemical puts most observations into one cluster. Both fold
    paths (per-cluster collect_list DFA and the associative per-doc
    transition-table composition) must produce the identical graph, and
    both must match the sequential pure-Python oracle."""
    from entity_extractor_spark.oracle import finalize, ingest_corpus
    from entity_extractor_spark.corpus import generate_documents_local

    cfg = CorpusConfig(n_docs=120, n_chemicals=8, n_hub=1, hub_rate=0.9)
    docs = generate_documents_df(spark, cfg)
    t_simple = run_pipeline(
        spark, docs, str(tmp_path / "hub_a"), gazetteer=gazetteer_rows(cfg)
    )
    t_assoc = run_pipeline(
        spark, docs, str(tmp_path / "hub_b"), gazetteer=gazetteer_rows(cfg),
        scalable_fold=True,
    )
    trip_a = {(r["subj"], r["pred"], r["obj"], r["weight_percent"])
              for r in t_simple["triples"].collect()}
    trip_b = {(r["subj"], r["pred"], r["obj"], r["weight_percent"])
              for r in t_assoc["triples"].collect()}
    assert trip_a == trip_b
    nodes_a = {(r["name"], r["node_type"], r["cas_number"], r["pfas_status"],
                r["pfas_information_source"]) for r in t_simple["nodes"].collect()}
    nodes_b = {(r["name"], r["node_type"], r["cas_number"], r["pfas_status"],
                r["pfas_information_source"]) for r in t_assoc["nodes"].collect()}
    assert nodes_a == nodes_b

    res = finalize(ingest_corpus(generate_documents_local(cfg)))
    want = {(s, p, o, w) for (s, p, o, w) in res["triples"]}
    assert trip_a == want


def test_mentions_no_match_and_prefilter_equivalence(spark, monkeypatch):
    """The eager vocab pass may find nothing (empty result with the pinned
    schema), and the arrays_overlap span prefilter must be a pure pruning
    step: identical rows with the prefilter disabled."""
    from entity_extractor_spark.operators import mentions as M

    cfg = CorpusConfig(n_docs=40)
    docs = generate_documents_df(spark, cfg)

    none = M.detect_mentions(docs, [{"keyword": "zz-not-present-zz", "mtype": "X"}])
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        "doc_id", "span_offset", "keyword", "word", "confidence", "mtype", "word_idx",
    ]

    gaz = gazetteer_rows(cfg)
    with_pf = {tuple(r) for r in M.detect_mentions(docs, gaz).collect()}
    monkeypatch.setattr(M, "PREFILTER_VOCAB_MAX", -1)
    without_pf = {tuple(r) for r in M.detect_mentions(docs, gaz).collect()}
    assert with_pf == without_pf and len(with_pf) > 0


def test_mentions_three_paths_equivalent(spark, monkeypatch):
    """The adaptive mention scan has three physical paths — eager JVM
    (vocab collect + broadcast), lazy JVM (stream-side theta-join, the
    MATCHED_VOCAB_MAX overflow fallback) and Aho-Corasick mapInPandas
    (the >=AC_KEYWORDS_MIN gazetteer path) — all must produce the identical
    row MULTISET (duplicates included: same word twice in a span = two
    mentions)."""
    from collections import Counter

    from entity_extractor_spark.operators import mentions as M

    cfg = CorpusConfig(n_docs=40)
    docs = generate_documents_df(spark, cfg)
    gaz = gazetteer_rows(cfg)

    eager = Counter(tuple(r) for r in M.detect_mentions(docs, gaz).collect())
    ac = Counter(tuple(r) for r in M.detect_mentions_ac(docs, gaz).collect())
    monkeypatch.setattr(M, "MATCHED_VOCAB_MAX", 0)
    lazy = Counter(tuple(r) for r in M.detect_mentions(docs, gaz).collect())
    assert len(eager) > 0
    assert eager == ac, f"ac diff: {(eager - ac) + (ac - eager)}"
    assert eager == lazy, f"lazy diff: {(eager - lazy) + (lazy - eager)}"
    # dispatch: a huge gazetteer routes to the AC path (plan has no join)
    monkeypatch.setattr(M, "AC_KEYWORDS_MIN", 1)
    plan = M.detect_mentions(docs, gaz)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BroadcastHashJoin" not in plan


def test_aho_corasick_matches_bruteforce():
    """Automaton vs brute-force substring scan on adversarial short/overlap
    keyword sets (prefix-of-prefix, repeated chars, shared suffixes)."""
    import random

    from entity_extractor_spark.operators.mentions import AhoCorasick

    kws = ["a", "aa", "aba", "ba", "bab", "abab", "chlor", "chloride", "id", "ride"]
    ac = AhoCorasick(kws)
    rng = random.Random(7)
    for _ in range(300):
        w = "".join(rng.choice("abcdehilor") for _ in range(rng.randrange(0, 14)))
        want = {k for k in kws if k in w}
        assert ac.match(w) == want, (w, ac.match(w), want)


def test_resume_with_stale_tmp_dir(spark, tmp_path):
    """A run killed mid-write leaves a stage's _tmp directory behind; the
    next run must clear it and commit cleanly (lineage.commit_stage)."""
    import os

    cfg = CorpusConfig(n_docs=20)
    docs = generate_documents_df(spark, cfg)
    out = str(tmp_path / "stale_tmp_out")
    os.makedirs(os.path.join(out, "winners._tmp"))
    with open(os.path.join(out, "winners._tmp", "part-junk"), "w") as f:
        f.write("garbage from a killed writer")
    tables = run_pipeline(spark, docs, out, gazetteer=gazetteer_rows(cfg))
    assert tables["triples"].count() > 0
    assert not os.path.exists(os.path.join(out, "winners._tmp"))


def test_mentions_paths_agree_on_unicode_whitespace(spark):
    """Java \\s is ASCII-only while Python's str.split() is Unicode-aware:
    a U+00A0 (nbsp) must stay INSIDE a word on both the JVM and the AC
    path, or crossing AC_KEYWORDS_MIN would silently change mention rows."""
    from collections import Counter

    from entity_extractor_spark.operators import mentions as M

    # \xa0 (Unicode ws, NOT Java \s) must stay in-word; \x0b (ASCII ws)
    # must split - on BOTH paths
    text = "acid\xa0rain and\u2003acid plus plain acid \x0bacid\ttail"
    docs = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    gaz = [{"keyword": "acid", "mtype": "CHEMICAL"}]
    jvm = Counter(tuple(r) for r in M.detect_mentions(docs, gaz).collect())
    ac = Counter(tuple(r) for r in M.detect_mentions_ac(docs, gaz).collect())
    assert len(jvm) > 0
    assert jvm == ac, f"diff: {(jvm - ac) + (ac - jvm)}"


def test_single_doc_and_empty_corpus(spark, tmp_path):
    """Boundary corpora: one document produces a valid mini-graph; an
    EMPTY corpus runs the whole stage DAG to zero-row tables (no
    empty-aggregate / empty-join crashes anywhere in the plan)."""
    cfg = CorpusConfig(n_docs=1)
    t = run_pipeline(
        spark, generate_documents_df(spark, cfg), str(tmp_path / "one"),
        gazetteer=gazetteer_rows(cfg), resume=False,
    )
    assert t["triples"].count() > 0
    assert t["materials"].count() == 1

    empty = generate_documents_df(spark, cfg).where("doc_id = 'nope'")
    t2 = run_pipeline(
        spark, empty, str(tmp_path / "zero"), gazetteer=gazetteer_rows(cfg), resume=False
    )
    assert t2["triples"].count() == 0
    assert t2["nodes"].count() == 0


def test_repeated_run_reuses_generated_code(spark, tmp_path):
    """Steady-state codegen gate: a second build in a warm JVM compiles no
    generated class, because every one is still in Spark's codegen cache
    (session.STATIC_CONF). At Spark's default 100-entry cache a build of
    this corpus evicts and recompiles ~176 classes on every run."""
    import json
    import os

    def compiles() -> int:
        # Spark's own JVM-wide counter, read here independently of the
        # program's helper so the gate also checks the lineage entry
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    cfg = CorpusConfig(n_docs=40)
    docs = generate_documents_df(spark, cfg)
    run_pipeline(spark, docs, str(tmp_path / "first"), gazetteer=gazetteer_rows(cfg))
    before = compiles()
    out = str(tmp_path / "second")
    run_pipeline(spark, docs, out, gazetteer=gazetteer_rows(cfg))
    # Bound 0. The 2 compiles a repeated run used to keep were the
    # connected-components size probe, und.limit(n).count(): Spark names a
    # limit operator's counter from a JVM-wide sequence, so each call's
    # LocalLimit stage is new source, compiled once for the driver and once
    # for the executors (the cache is keyed by class loader too). The probe
    # is now a plain count, whose classes the cache reuses.
    assert compiles() - before == 0
    with open(os.path.join(out, "_lineage.json")) as f:
        assert json.load(f)["run"] == {"codegen_compiles": 0}
